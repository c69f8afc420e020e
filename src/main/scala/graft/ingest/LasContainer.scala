package graft.ingest

import java.nio.{ByteBuffer, ByteOrder}

/** The LAS/LAZ container, written and parsed in one place: the public
  * header block, coordinate quantization, the fmt-0/1 and fmt-6 point
  * records with the fmt-6 field ranges, and the LASzip `laszip encoded`
  * VLR and chunk table. [[Las]] (raw LAS 1.2 fmt 0/1 and LAS 1.4 fmt 6),
  * [[Laz]] (POINT10/GPSTIME11), [[Laz14]] (POINT14 layered) and the
  * `graft.sources.LasSource` connector keep only their point codecs and
  * call this module for everything around them. `LasContainerSpec` pins
  * every writer's output bytes by SHA-256.
  *
  * Every parse check throws IllegalArgumentException by name, and every
  * value read from the file is range-checked in Long math before it
  * sizes an allocation or an index.
  */
object LasContainer {

  /** Coordinate scale of every writer (offset 0): any 6-decimal value
    * round-trips exactly and decodes as one IEEE multiply. */
  val Scale = 1e-6

  private val Header12 = 227
  private val Header14 = 375
  private val VlrHeader = 54
  private val LaszipRecordId = 22204

  /** Public header size for point format `fmt`: LAS 1.4 for fmt 6, LAS
    * 1.2 for fmt 0/1. */
  def headerSize(fmt: Int): Int = if (fmt == 6) Header14 else Header12

  /** Record length of point format 0, 1 or 6. */
  def recordLength(fmt: Int): Int = fmt match {
    case 0 => 20
    case 1 => 28
    case 6 => 30
  }

  /** `round(v / Scale)` as the stored int32; a value outside int32 fails. */
  def quant(v: Double): Int = {
    val q = math.floor(v / Scale + 0.5)
    require(q >= Int.MinValue && q <= Int.MaxValue,
      s"coordinate $v overflows int32 at scale $Scale")
    q.toInt
  }

  // ---- writing ------------------------------------------------------------

  /** The header facts a writer accumulates per point: count, extents and
    * by-return counts. `add` allocates nothing, so the streaming sink
    * keeps one per file. */
  final class Summary {
    private var n = 0L
    private var xmin, ymin, zmin = Double.MaxValue
    private var xmax, ymax, zmax = Double.MinValue
    private val byReturn = new Array[Long](15)

    def add(x: Double, y: Double, z: Double, returnNo: Int): Unit = {
      n += 1
      byReturn(returnNo - 1) += 1
      xmin = math.min(xmin, x); xmax = math.max(xmax, x)
      ymin = math.min(ymin, y); ymax = math.max(ymax, y)
      zmin = math.min(zmin, z); zmax = math.max(zmax, z)
    }

    /** Writes the public header block at absolute positions, leaving the
      * buffer's position alone. Fmt 0/1 writes LAS 1.2 (u32 count, no
      * by-return counts); fmt 6 writes LAS 1.4 (adjusted GPS time,
      * legacy count 0, u64 count and by-return counts). */
    def putHeader(b: ByteBuffer, fmt: Int, compressed: Boolean, dataOff: Int,
        numVlrs: Int, evlrStart: Long = 0L, nEvlr: Int = 0): Unit = {
      val v14 = fmt == 6
      b.put(0, 'L'.toByte).put(1, 'A'.toByte).put(2, 'S'.toByte).put(3, 'F'.toByte)
      if (v14) b.putShort(6, 1.toShort) // global encoding: adjusted std GPS time
      b.put(24, 1.toByte).put(25, (if (v14) 4 else 2).toByte)
      b.putShort(94, headerSize(fmt).toShort)
      b.putInt(96, dataOff)
      b.putInt(100, numVlrs)
      b.put(104, (if (compressed) fmt | 0x80 else fmt).toByte) // bit 7: LASzip
      b.putShort(105, recordLength(fmt).toShort)
      b.putInt(107, if (v14) 0 else n.toInt)
      var i = 0
      while (i < 3) { b.putDouble(131 + 8 * i, Scale); b.putDouble(155 + 8 * i, 0.0); i += 1 }
      val ext = if (n == 0) Array.fill(6)(0.0) else Array(xmax, xmin, ymax, ymin, zmax, zmin)
      i = 0
      while (i < 6) { b.putDouble(179 + 8 * i, ext(i)); i += 1 }
      if (v14) {
        b.putLong(227, 0L) // waveform data packet record start
        b.putLong(235, evlrStart)
        b.putInt(243, nEvlr)
        b.putLong(247, n)
        i = 0
        while (i < 15) { b.putLong(255 + 8 * i, byReturn(i)); i += 1 }
      }
    }
  }

  /** Appends one fmt-0 (or, `timed`, fmt-1) record: return 1 of 1,
    * intensity, scan angle, user data and source id 0. */
  def putRecord01(b: ByteBuffer, timed: Boolean, x: Double, y: Double, z: Double,
      cls: Int, t: Double): Unit = {
    b.putInt(quant(x)).putInt(quant(y)).putInt(quant(z))
    b.putShort(0.toShort).put(0x11.toByte).put(cls.toByte)
    b.put(0.toByte).put(0.toByte).putShort(0.toShort)
    if (timed) b.putDouble(t)
  }

  /** The value ranges of the fmt-6 record fields. */
  def checkRecord6(intensity: Int, returnNo: Int, nReturns: Int, channel: Int,
      cls: Int, scanAngle: Int, sourceId: Int): Unit = {
    require(returnNo >= 1 && returnNo <= 15 && nReturns >= returnNo && nReturns <= 15,
      s"return $returnNo/$nReturns outside fmt-6 4-bit fields")
    require(channel >= 0 && channel <= 3, s"scanner channel $channel")
    require(cls >= 0 && cls <= 255, s"classification $cls")
    require(intensity >= 0 && intensity <= 0xffff &&
      sourceId >= 0 && sourceId <= 0xffff, "u16 field out of range")
    require(scanAngle >= Short.MinValue && scanAngle <= Short.MaxValue,
      s"scan angle $scanAngle")
  }

  def checkRecord6(p: Las.P6): Unit =
    checkRecord6(p.intensity, p.returnNo, p.nReturns, p.channel,
      p.classification, p.scanAngle, p.sourceId)

  /** Appends one fmt-6 record (class flags, scan direction, edge and user
    * data 0). The fields must pass [[checkRecord6]]. */
  def putRecord6(b: ByteBuffer, x: Double, y: Double, z: Double, intensity: Int,
      returnNo: Int, nReturns: Int, channel: Int, cls: Int, scanAngle: Int,
      sourceId: Int, gpsTime: Double): Unit = {
    b.putInt(quant(x)).putInt(quant(y)).putInt(quant(z))
    b.putShort(intensity.toShort)
    b.put((returnNo | (nReturns << 4)).toByte)
    b.put((channel << 4).toByte)
    b.put(cls.toByte)
    b.put(0.toByte)
    b.putShort(scanAngle.toShort)
    b.putShort(sourceId.toShort)
    b.putDouble(gpsTime)
  }

  def putRecord6(b: ByteBuffer, p: Las.P6): Unit =
    putRecord6(b, p.x, p.y, p.z, p.intensity, p.returnNo, p.nReturns, p.channel,
      p.classification, p.scanAngle, p.sourceId, p.gpsTime)

  /** A LASzip file of point format `fmt`: the header, the `laszip
    * encoded` VLR, the i64 chunk-table offset, the chunks, and the chunk
    * table (version 0, count, then each chunk's byte size arithmetic-coded
    * with the previous size as predictor). Fmt 0/1 is POINTWISE_CHUNKED
    * (compressor 2) with POINT10 (+ GPSTIME11) items; fmt 6 is
    * LAYERED_CHUNKED (compressor 3) with one POINT14 item. */
  def writeLaszip(fmt: Int, chunkSize: Int, s: Summary,
      chunks: collection.Seq[Array[Byte]]): Array[Byte] = {
    val items = fmt match { // (type, size, version)
      case 0 => Seq((6, 20, 2))
      case 1 => Seq((6, 20, 2), (7, 8, 2))
      case 6 => Seq((10, 30, 3))
    }
    val payloadLen = 34 + 6 * items.length
    val hs = headerSize(fmt)
    val dataOff = hs + VlrHeader + payloadLen
    val tableEnc = new ArithEncoder
    val tableIc = new Laz.IntComp(32, 2, forDecoding = false)
    var prev = 0
    chunks.foreach { ch =>
      tableIc.compress(tableEnc, prev, ch.length, 1)
      prev = ch.length
    }
    val tableBody = tableEnc.done()
    val tableOff = dataOff + 8 + chunks.map(_.length).sum
    val b = ByteBuffer.allocate(tableOff + 8 + tableBody.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    s.putHeader(b, fmt, compressed = true, dataOff, numVlrs = 1)
    b.position(hs + 2) // reserved u16
    b.put("laszip encoded".getBytes("US-ASCII")) // user id, zero-padded to 16
    b.position(hs + 18)
    b.putShort(LaszipRecordId.toShort)
    b.putShort(payloadLen.toShort)
    b.position(hs + VlrHeader) // 32-byte description stays zeroed
    b.putShort((if (fmt == 6) 3 else 2).toShort) // compressor
    b.putShort(0.toShort) // coder: arithmetic
    if (fmt == 6) b.put(3.toByte).put(4.toByte) else b.put(2.toByte).put(2.toByte)
    b.putShort(0.toShort) // laszip version above, revision 0
    b.putInt(0) // options
    b.putInt(chunkSize)
    b.putLong(-1L).putLong(-1L) // no special EVLRs
    b.putShort(items.length.toShort)
    items.foreach { case (t, size, v) =>
      b.putShort(t.toShort).putShort(size.toShort).putShort(v.toShort)
    }
    b.putLong(tableOff.toLong)
    chunks.foreach(ch => b.put(ch))
    b.putInt(0) // chunk table version
    b.putInt(chunks.length)
    b.put(tableBody)
    b.array()
  }

  // ---- parsing ------------------------------------------------------------

  /** A checked public header. `n` is the u32 legacy count of LAS 1.2 or
    * the u64 count of LAS 1.4; the EVLR fields are 0 before 1.4. */
  final case class Header(fmt: Int, headerSize: Int, dataOff: Int, numVlrs: Int,
      recLen: Int, n: Int, sx: Double, sy: Double, sz: Double,
      ox: Double, oy: Double, oz: Double, evlrStart: Long, nEvlr: Int) {
    /** Byte position of record `i`. */
    def record(i: Int): Int = dataOff + i * recLen
    /** Offsets of the classification byte and the GPS time inside a
      * record (fmt 0 has no time). */
    val clsAt: Int = if (fmt == 6) 16 else 15
    val timeAt: Int = if (fmt == 6) 22 else 20
  }

  /** Whether the header's version is 1.4 or later (false for a file too
    * short to say). */
  def isV14(bytes: Array[Byte]): Boolean =
    bytes.length > 25 && bytes(24) == 1 && (bytes(25) & 0xff) >= 4

  /** Whether the point format byte carries the LASzip bit (false for a
    * file too short to say). */
  def isCompressed(bytes: Array[Byte]): Boolean =
    bytes.length > 104 && (bytes(104) & 0x80) != 0

  /** Parses and checks the public header block: LAS 1.4 fmt 6 when `v14`,
    * else fmt 0/1 of any 1.x version; LASzip-compressed or not as
    * `compressed` says. */
  private def parse(bytes: Array[Byte], v14: Boolean, compressed: Boolean): Header = {
    val minHeader = if (v14) Header14 else Header12
    require(bytes.length >= minHeader &&
      new String(bytes, 0, 4, "US-ASCII") == "LASF", "not a LAS file")
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val (vMaj, vMin) = (bytes(24) & 0xff, bytes(25) & 0xff)
    require(!v14 || (vMaj == 1 && vMin >= 4), s"not a LAS 1.4+ file (version $vMaj.$vMin)")
    val fmtByte = bytes(104) & 0xff
    require(((fmtByte & 0x80) != 0) == compressed,
      if (compressed) "not LASzip-compressed: use the Las decoders"
      else "LASzip-compressed: use the Laz decoders")
    val fmt = fmtByte & 0x7f
    require(if (v14) fmt == 6 else fmt == 0 || fmt == 1,
      s"only point format ${if (v14) "6" else "0/1"} supported, got $fmt")
    val headerSize = b.getShort(94) & 0xffff
    require(headerSize >= minHeader, s"LAS header size $headerSize < $minHeader")
    val recLen = b.getShort(105) & 0xffff
    require(recLen >= recordLength(fmt),
      s"fmt-$fmt record length $recLen < ${recordLength(fmt)}")
    val n64 =
      if (v14) {
        require(b.getInt(107) == 0, "legacy point count must be 0 for fmt 6")
        b.getLong(247)
      } else b.getInt(107).toLong
    require(n64 >= 0 && n64 <= Int.MaxValue, s"point count $n64 out of range")
    val dataOff = b.getInt(96)
    require(dataOff >= headerSize,
      s"point data offset $dataOff inside the $headerSize-byte header")
    Header(fmt, headerSize, dataOff, b.getInt(100), recLen, n64.toInt,
      b.getDouble(131), b.getDouble(139), b.getDouble(147),
      b.getDouble(155), b.getDouble(163), b.getDouble(171),
      if (v14) b.getLong(235) else 0L, if (v14) b.getInt(243) else 0)
  }

  /** The header of an uncompressed file whose records all fit in it. */
  def raw(bytes: Array[Byte], v14: Boolean): Header = {
    val h = parse(bytes, v14, compressed = false)
    require(h.dataOff + h.n.toLong * h.recLen <= bytes.length,
      s"${h.n} points of ${h.recLen} bytes at ${h.dataOff} run past file end")
    h
  }

  /** Reads the fmt-6 record at byte position `p`. */
  def readRecord6(bytes: Array[Byte], b: ByteBuffer, h: Header, p: Int): Las.P6 = {
    val ret = bytes(p + 14) & 0xff
    Las.P6(b.getInt(p) * h.sx + h.ox, b.getInt(p + 4) * h.sy + h.oy,
      b.getInt(p + 8) * h.sz + h.oz,
      b.getShort(p + 12) & 0xffff,
      ret & 0x0f, (ret >> 4) & 0x0f, (bytes(p + 15) >> 4) & 0x03,
      bytes(p + 16) & 0xff,
      b.getShort(p + 18).toInt,
      b.getShort(p + 20) & 0xffff,
      b.getDouble(p + 22))
  }

  /** Parses a LASzip file's header, `laszip encoded` VLR and chunk table
    * into per-chunk byte extents: LAYERED_CHUNKED fmt 6 when `v14`, else
    * POINTWISE_CHUNKED fmt 0/1. */
  def laszip(bytes: Array[Byte], v14: Boolean): Laz.Layout = {
    val h = parse(bytes, v14, compressed = true)
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val compressor = if (v14) 3 else 2
    // find the laszip VLR for the chunk size; every read is bounds-checked
    // before it is made
    var chunkSize = 0
    var off = h.headerSize
    var v = 0
    var found = false
    while (v < h.numVlrs) {
      require(off + VlrHeader <= bytes.length, "truncated VLR header")
      val recId = b.getShort(off + 18) & 0xffff
      val len = b.getShort(off + 20) & 0xffff
      if (recId == LaszipRecordId) {
        require(off + VlrHeader + 16 <= bytes.length, "truncated laszip VLR")
        val comp = b.getShort(off + VlrHeader) & 0xffff
        require(comp == compressor, s"only ${if (v14) "LAYERED" else "POINTWISE"}" +
          s"_CHUNKED laszip supported for fmt ${h.fmt}, got compressor $comp")
        chunkSize = b.getInt(off + VlrHeader + 12)
        require(chunkSize > 0, s"corrupt chunk size $chunkSize")
        found = true
      }
      off += VlrHeader + len
      v += 1
    }
    require(found, s"laszip VLR (record $LaszipRecordId) not found")
    require(h.dataOff + 8L <= bytes.length, s"point data offset ${h.dataOff} outside file")
    // The table offset is a signed i64. LASzip writes the sentinel -1 when
    // the writer could not seek back (the table then sits at EOF behind a
    // forward pointer); that form is rejected by name. Int indices are
    // safe after these checks: a JVM byte array is < 2 GiB, so larger
    // files must be range-read per chunk before reaching this parser.
    val tableOff64 = b.getLong(h.dataOff)
    require(tableOff64 != -1L,
      "LAZ chunk-table offset sentinel -1 (non-seekable writer) not supported")
    require(tableOff64 >= h.dataOff + 8L && tableOff64 <= bytes.length - 8L,
      s"LAZ chunk-table offset $tableOff64 outside [${h.dataOff + 8L}, ${bytes.length - 8}]")
    val tableOff = tableOff64.toInt
    require(b.getInt(tableOff) == 0, "unsupported chunk table version")
    val numChunks = b.getInt(tableOff + 4)
    // the chunk count is pinned to the header's point count before it
    // sizes the two extent arrays
    val expectChunks = if (h.n == 0) 0 else ((h.n - 1) / chunkSize) + 1
    require(numChunks == expectChunks,
      s"corrupt LAZ chunk table: $numChunks chunks for ${h.n} points of $chunkSize")
    // a chunk holds at least its raw first point (and, layered, the
    // per-layer byte counts) and stays inside [data, table)
    val minChunk = recordLength(h.fmt) + (if (v14) 4 * Laz14.NumLayers else 0)
    val tdec = new ArithDecoder(bytes, tableOff + 8, bytes.length)
    val tic = new Laz.IntComp(32, 2, forDecoding = true)
    val starts = new Array[Int](numChunks)
    val ends = new Array[Int](numChunks)
    var prev = 0
    var start = h.dataOff + 8
    var c = 0
    while (c < numChunks) {
      prev = tic.decompress(tdec, prev, 1)
      require(prev >= minChunk && start.toLong + prev <= tableOff,
        s"corrupt chunk extent $prev at $start")
      starts(c) = start
      ends(c) = start + prev
      start = ends(c)
      c += 1
    }
    Laz.Layout(h.fmt, h.n, chunkSize, h.sx, h.sy, h.sz, h.ox, h.oy, h.oz, starts, ends)
  }
}
