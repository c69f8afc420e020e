package graft.ingest

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.raster.GridMeta

/** Minimal PURE-JVM GeoTIFF codec for the engine's raster byte boundary —
  * the reference hands this to rioxarray/GDAL (`differencing_functions.py:
  * 69–79`, and writes LZW tiled COPY_SRC_OVERVIEWS rasters, :696–705);
  * here a self-contained reader/writer covers the single-band float case
  * so ingest can start from actual raster bytes with no native
  * dependency.
  *
  * Scope (validated, everything else rejected loudly):
  *   - classic TIFF or BigTIFF (magic 43, u64 offsets), II or MM byte
  *     order (writer emits II)
  *   - one sample per pixel, IEEE float 32 or 64
  *   - Compression=1 (none), 5 (LZW, [[Lzw]]), 8 (Deflate/zlib,
  *     [[Zlib]] — GDAL "compress=DEFLATE") or 32773 ([[PackBits]]),
  *     optionally with Predictor=3 ([[FpPredictor]]); strip- or
  *     tile-organized
  *   - overview pyramids: a next-IFD chain of downsampled pages
  *   - geo tags: ModelPixelScale (33550), ModelTiepoint (33922),
  *     GDAL_NODATA (42113) → [[GridMeta]] origin/scale/nodata
  *
  * One private page-chain writer produces every variant; the public
  * `encode*` methods only choose its compression, predictor, BigTIFF
  * widths and overview levels.
  *
  * The byte codec is deliberately per-tile and driver-free: `decode`/
  * `encode` are pure functions over byte arrays, so a 100-TB ingest is a
  * table of (tile_id, bytes) rows flat-mapped tile-parallel into the
  * pixel model ([[tilesToPixels]]) — the same batched-imperative shape as
  * the multimodal decode path.
  */
object GeoTiff {

  private val TAG_WIDTH = 256
  private val TAG_HEIGHT = 257
  private val TAG_BITS = 258
  private val TAG_COMPRESSION = 259
  private val TAG_PHOTOMETRIC = 262
  private val TAG_STRIP_OFFSETS = 273
  private val TAG_SAMPLES_PER_PX = 277
  private val TAG_ROWS_PER_STRIP = 278
  private val TAG_STRIP_COUNTS = 279
  private val TAG_PREDICTOR = 317
  private val TAG_SAMPLE_FORMAT = 339
  private val TAG_TILE_WIDTH = 322
  private val TAG_TILE_LENGTH = 323
  private val TAG_TILE_OFFSETS = 324
  private val TAG_TILE_COUNTS = 325
  private val TAG_PIXEL_SCALE = 33550
  private val TAG_TIEPOINT = 33922
  private val TAG_GDAL_NODATA = 42113

  /** Decode a GeoTIFF byte array into its grid metadata and dense rows
    * (row-major, `height` arrays of `width` doubles, nodata left as the
    * sentinel value — normalize with [[DenseRaster.toPixels]]). */
  def decode(bytes: Array[Byte]): (GridMeta, Array[Array[Double]]) =
    decodeImpl(bytes, metaOnly = false)

  /** Header-only parse: grid metadata with NO pixel decode — what a
    * scale reader uses to prune whole FILES against a pushed bbox
    * before paying any decompression (on object storage this is a
    * range-read of the header bytes; here the tag walk alone). */
  def meta(bytes: Array[Byte]): GridMeta = decodeImpl(bytes, metaOnly = true)._1

  /** Decode overview level `level` of a pyramided GeoTIFF (level 0 =
    * the full-resolution IFD, level k = the k-th next-IFD in the
    * chain — the COPY_SRC_OVERVIEWS layout GDAL writes,
    * differencing_functions.py:696–705). Rejects loudly when the chain
    * is shorter than `level`. */
  def decodeLevel(bytes: Array[Byte], level: Int): (GridMeta, Array[Array[Double]]) =
    decodeImpl(bytes, metaOnly = false, level)

  /** Header-only parse of overview level `level` — the per-level twin
    * of [[meta]]: grid metadata (including the level's pixel size) with
    * no pixel decode, what a resolution-aware reader walks to pick the
    * coarsest level that still satisfies a requested ground-sample
    * distance. */
  def metaLevel(bytes: Array[Byte], level: Int): GridMeta =
    decodeImpl(bytes, metaOnly = true, level)._1

  /** Number of images in the IFD chain (1 = no overviews). Capped at 64
    * levels: each probe walks the chain from the top, so a crafted
    * acyclic chain of thousands of minimal IFDs would otherwise make
    * this quadratic (a real pyramid halves per level — 64 levels is a
    * 2^64 downsample, far past any legitimate file). */
  def levelCount(bytes: Array[Byte]): Int = {
    var n = 1
    while ({
      require(n <= 64, "TIFF IFD chain exceeds 64 levels")
      try { decodeImpl(bytes, metaOnly = true, n); true }
      catch { case e: IllegalArgumentException
        if Option(e.getMessage).exists(_.contains("no overview level")) => false }
    }) n += 1
    n
  }

  private def decodeImpl(bytes: Array[Byte],
      metaOnly: Boolean, level: Int = 0): (GridMeta, Array[Array[Double]]) = {
    require(bytes.length >= 16, "not a TIFF: too short")
    val b0 = ByteBuffer.wrap(bytes)
    val order = (bytes(0), bytes(1)) match {
      case ('I', 'I') => ByteOrder.LITTLE_ENDIAN
      case ('M', 'M') => ByteOrder.BIG_ENDIAN
      case _ => throw new IllegalArgumentException("not a TIFF: bad byte-order mark")
    }
    val b = b0.order(order)
    // Classic TIFF (magic 42, u32 offsets) or BigTIFF (magic 43, u64
    // offsets — the layout GDAL switches to past 4 GiB; same tags, IFD
    // entries are 20 bytes with u64 counts and 8 inline-value bytes).
    // In-memory indices stay Int AFTER bounds validation — a JVM byte
    // array is < 2 GiB; larger files must be range-read per chunk.
    val magic = b.getShort(2)
    require(magic == 42 || magic == 43, s"not a TIFF (magic $magic)")
    val big = magic == 43
    if (big) require(b.getShort(4) == 8 && b.getShort(6) == 0,
      "malformed BigTIFF header (offset size != 8)")
    def off(at: Int): Int = { // file offset field → validated Int index
      val v = if (big) b.getLong(at) else b.getInt(at) & 0xffffffffL
      require(v >= 0 && v <= bytes.length, s"TIFF offset $v outside file")
      v.toInt
    }
    var ifd = off(if (big) 8 else 4)
    val entryLen = if (big) 20 else 12
    // walk the next-IFD chain to the requested overview level, with the
    // same bounds discipline as the main IFD walk — a corrupt chain
    // pointer rejects loudly before it is dereferenced. A CYCLING chain
    // (hostile next-IFD pointing at a visited offset) must also reject:
    // callers that probe levels upward (levelCount, the connector's
    // resolution walk) only stop on "no overview level", so a cycle
    // would otherwise spin them forever — an infinite-loop DoS, not
    // just garbage output.
    val seen = scala.collection.mutable.HashSet[Int](ifd)
    var lvl = 0
    while (lvl < level) {
      require(ifd + (if (big) 8 else 2) <= bytes.length, "truncated TIFF IFD")
      val n64 = if (big) b.getLong(ifd) else (b.getShort(ifd) & 0xffff).toLong
      require(n64 >= 0 && n64 <= bytes.length / entryLen &&
        ifd.toLong + (if (big) 8 else 2) + n64 * entryLen +
          (if (big) 8 else 4) <= bytes.length,
        s"TIFF IFD with $n64 entries at $ifd runs past file end")
      val next = off(ifd + (if (big) 8 else 2) + n64.toInt * entryLen)
      require(next != 0,
        s"TIFF has no overview level $level (IFD chain ends after level $lvl)")
      require(seen.add(next), s"TIFF IFD chain cycles at offset $next")
      ifd = next
      lvl += 1
    }
    require(ifd + (if (big) 8 else 2) <= bytes.length, "truncated TIFF IFD")
    val nEntries64 =
      if (big) b.getLong(ifd) else (b.getShort(ifd) & 0xffff).toLong
    // bound the IFD walk BEFORE truncating the (BigTIFF u64) entry count
    // to Int: a corrupt header must reject loudly, not drive the loop
    // through garbage entries
    require(nEntries64 >= 0 && nEntries64 <= bytes.length / entryLen &&
      ifd.toLong + (if (big) 8 else 2) + nEntries64 * entryLen <= bytes.length,
      s"TIFF IFD with $nEntries64 entries at $ifd runs past file end")
    val nEntries = nEntries64.toInt
    val entryBase = ifd + (if (big) 8 else 2)
    val inlineCap = if (big) 8 else 4 // value bytes held inline
    // tag -> (type, count, value-or-offset position)
    var tags = Map.empty[Int, (Int, Int, Int)]
    for (i <- 0 until nEntries) {
      val e = entryBase + i * entryLen
      val cnt = if (big) b.getLong(e + 4) else (b.getInt(e + 4) & 0xffffffffL)
      tags += ((b.getShort(e) & 0xffff) -> (
        (b.getShort(e + 2) & 0xffff, cnt.toInt, e + (if (big) 12 else 8))))
    }
    def scalar(tag: Int, dflt: Long = -1): Long = tags.get(tag) match {
      case Some((3, _, p)) => b.getShort(p) & 0xffff // SHORT inline
      case Some((4, _, p)) => b.getInt(p) & 0xffffffffL // LONG inline
      case Some((16, _, p)) if big => b.getLong(p) // LONG8 inline
      case None if dflt >= 0 => dflt
      case other => throw new IllegalArgumentException(s"tag $tag unreadable: $other")
    }
    def longArray(tag: Int, n: Int): Array[Long] = tags.get(tag) match {
      case Some((typ, cnt, p)) =>
        require(cnt == n, s"tag $tag count $cnt != $n")
        val width = typ match {
          case 3 => 2
          case 4 => 4
          case 16 => require(big, "LONG8 outside BigTIFF"); 8
          case t => throw new IllegalArgumentException(s"tag $tag type $t")
        }
        val base = if (cnt * width <= inlineCap) p else off(p)
        require(base.toLong + n.toLong * width <= bytes.length,
          s"tag $tag value array runs past file end")
        Array.tabulate(n) { i =>
          width match {
            case 2 => (b.getShort(base + 2 * i) & 0xffff).toLong
            case 4 => b.getInt(base + 4 * i) & 0xffffffffL
            case _ => b.getLong(base + 8 * i)
          }
        }
      case None => throw new IllegalArgumentException(s"missing tag $tag")
    }
    def doubleArray(tag: Int): Array[Double] = tags.get(tag) match {
      case Some((12, cnt, p)) =>
        val base = if (cnt * 8 <= inlineCap) p else off(p)
        require(cnt >= 0 && base.toLong + cnt.toLong * 8 <= bytes.length,
          s"tag $tag DOUBLE array runs past file end")
        Array.tabulate(cnt)(i => b.getDouble(base + 8 * i))
      case _ => Array.empty
    }
    def ascii(tag: Int): String = tags.get(tag) match {
      case Some((2, cnt, p)) =>
        val base = if (cnt <= inlineCap) p else off(p)
        require(cnt >= 0 && base.toLong + cnt <= bytes.length,
          s"tag $tag ASCII value runs past file end")
        new String(bytes, base, cnt, "US-ASCII").takeWhile(c => c != '\u0000' && c != ' ')
      case _ => ""
    }

    val w = scalar(TAG_WIDTH).toInt
    val h = scalar(TAG_HEIGHT).toInt
    // allocation bound from hostile headers: the dense decode allocates
    // h x w doubles BEFORE any chunk check, so reject sizes this
    // IN-MEMORY codec cannot hold (2^26 cells = 512 MB of f64; a 100-TB
    // ingest range-reads chunks and never routes a monster single image
    // through here — deep-fuzz found a flipped height OOMing the JVM at
    // the 2^28 cap)
    require(w > 0 && h > 0 && w.toLong * h <= (1L << 26),
      s"implausible raster size ${w}x$h for the in-memory codec")
    val bits = scalar(TAG_BITS).toInt
    val compression = scalar(TAG_COMPRESSION, 1).toInt
    require(compression == 1 || compression == 5 || compression == 8 ||
      compression == 32773,
      s"only Compression=1 (none), 5 (LZW), 8 (Deflate) or 32773 (PackBits) supported, got $compression")
    val predictor = scalar(TAG_PREDICTOR, 1).toInt
    // Predictor=2 is integer horizontal differencing — meaningless for
    // IEEE-float samples (GDAL never pairs it with Float32/64)
    require(predictor == 1 || predictor == 3,
      s"only Predictor=1 (none) or 3 (floating point) supported, got $predictor")
    require(scalar(TAG_SAMPLES_PER_PX, 1) == 1, "only single-band rasters supported")
    require(scalar(TAG_SAMPLE_FORMAT, 1) == 3, "only IEEE-float SampleFormat=3 supported")
    require(bits == 32 || bits == 64, s"only 32/64-bit float samples, got $bits")
    val scale = doubleArray(TAG_PIXEL_SCALE)
    val tie = doubleArray(TAG_TIEPOINT)
    val nodata = ascii(TAG_GDAL_NODATA).trim match {
      case "" => -9999.0
      case s => s.toDouble
    }
    val meta = GridMeta(
      originX = if (tie.length >= 4) tie(3) else 0.0,
      originY = if (tie.length >= 5) tie(4) else 0.0,
      dx = if (scale.nonEmpty) scale(0) else 1.0,
      dy = if (scale.length >= 2) scale(1) else 1.0,
      width = w, height = h, nodata = nodata)
    if (metaOnly) return (meta, Array.empty)
    val px = if (bits == 64) 8 else 4
    // uncompressed samples must physically exist: a header cannot claim
    // more pixel bytes than the file holds
    require(metaOnly || compression != 1 ||
      w.toLong * h * px <= bytes.length,
      s"raster ${w}x$h of $px-byte samples exceeds the ${bytes.length}-byte file")
    def sample(buf: ByteBuffer, at: Int): Double =
      if (px == 8) buf.getDouble(at) else buf.getFloat(at).toDouble
    require(predictor == 1 || compression != 1,
      "Predictor=3 on uncompressed data unsupported (GDAL never writes it)")
    // chunk scanline width: strips span the image, tiles span the tile
    val chunkRowPx =
      if (tags.contains(TAG_TILE_WIDTH)) scalar(TAG_TILE_WIDTH).toInt else w
    require(chunkRowPx > 0, s"corrupt chunk scanline width $chunkRowPx")
    // per-chunk view: uncompressed chunks read in place; LZW
    // (Compression=5), zlib/Deflate (Compression=8, GDAL
    // "compress=DEFLATE") and PackBits (32773) chunks decompress into a
    // chunk-local buffer; Predictor=3 then integrates + deshuffles each
    // scanline in place (TIFF TechNote 3 / libtiff fpAcc)
    // `needed` = bytes the caller will actually index past `base` — the
    // chunk (file extent AND decompressed size) must cover it, or a
    // truncated/flipped container would read out of bounds
    def chunkBuf(off: Int, cnt: Int, needed: Int): (ByteBuffer, Int) = {
      require(off >= 0 && cnt >= 0 && off.toLong + cnt <= bytes.length,
        s"TIFF chunk [$off, +$cnt) outside file")
      if (compression == 1) {
        require(off.toLong + needed <= bytes.length,
          s"TIFF chunk at $off too short for $needed sample bytes")
        (b, off)
      } else {
        val raw = java.util.Arrays.copyOfRange(bytes, off, off + cnt)
        val out = compression match {
          case 5 => Lzw.decode(raw)
          case 8 => Zlib.inflate(raw)
          case _ => PackBits.decode(raw)
        }
        require(out.length >= needed,
          s"TIFF chunk decompressed to ${out.length} < $needed bytes")
        if (predictor == 3) FpPredictor.accumulate(out, chunkRowPx, px)
        (ByteBuffer.wrap(out).order(order), 0)
      }
    }
    val rows =
      if (tags.contains(TAG_TILE_OFFSETS)) {
        // tile-organized layout (TIFF §15): tiles across then down,
        // row-major inside each tile, edge tiles padded to full size
        require(!tags.contains(TAG_STRIP_OFFSETS),
          "both strip and tile offsets present")
        val tw = scalar(TAG_TILE_WIDTH).toInt
        val th = scalar(TAG_TILE_LENGTH).toInt
        require(tw > 0 && th > 0 && tw.toLong * th <= (1L << 28),
          s"implausible tile size ${tw}x$th")
        val across = (w + tw - 1) / tw
        val down = (h + th - 1) / th
        val offsets = longArray(TAG_TILE_OFFSETS, across * down)
        val counts = longArray(TAG_TILE_COUNTS, across * down)
        val out = Array.fill(h)(new Array[Double](w))
        for (t <- 0 until across * down) {
          val r0 = (t / across) * th
          val c0 = (t % across) * tw
          val rMax = math.min(th, h - r0)
          val cMax = math.min(tw, w - c0)
          val needed = px * ((rMax - 1) * tw + cMax)
          val (cb, base) = chunkBuf(offsets(t).toInt, counts(t).toInt, needed)
          for (r <- 0 until rMax; c <- 0 until cMax)
            out(r0 + r)(c0 + c) = sample(cb, base + px * (r * tw + c))
        }
        out
      } else {
        val rowsPerStrip = scalar(TAG_ROWS_PER_STRIP, h).toInt
        require(rowsPerStrip > 0, s"corrupt RowsPerStrip $rowsPerStrip")
        val nStrips = (h + rowsPerStrip - 1) / rowsPerStrip
        val offsets = longArray(TAG_STRIP_OFFSETS, nStrips)
        val countOf: Int => Int =
          if (tags.contains(TAG_STRIP_COUNTS)) {
            val a = longArray(TAG_STRIP_COUNTS, nStrips); i => a(i).toInt
          } else { // uncompressed only: geometry determines the size
            require(compression == 1, "compressed strips need StripByteCounts")
            i => math.min(rowsPerStrip, h - i * rowsPerStrip) * w * px
          }
        val out = Array.fill(h)(new Array[Double](w))
        for (s <- 0 until nStrips) {
          val r0 = s * rowsPerStrip
          val rMax = math.min(rowsPerStrip, h - r0)
          val (cb, base) = chunkBuf(offsets(s).toInt, countOf(s), px * rMax * w)
          for (r <- 0 until rMax; c <- 0 until w)
            out(r0 + r)(c) = sample(cb, base + px * (r * w + c))
        }
        out
      }
    (meta, rows)
  }

  /** Encode dense rows into a little-endian single-band float64 GeoTIFF
    * (Compression=1, one strip per row). Inverse of [[decode]]. */
  def encode(meta: GridMeta, rows: Array[Array[Double]]): Array[Byte] =
    encode(meta, rows, 64, None)

  /** General writer: `bits` selects IEEE float32/float64 samples; `tile`
    * switches from one-strip-per-row to the tile-organized layout
    * (TIFF tiles; dims must be multiples of 16, edge tiles padded with
    * the nodata sentinel). Default args reproduce the original strip/f64
    * bytes exactly. The oracle round-trip queries gate the pixels; the
    * byte pin in `GeoTiffSpec` gates the bytes of every writer. */
  def encode(meta: GridMeta, rows: Array[Array[Double]], bits: Int,
             tile: Option[(Int, Int)]): Array[Byte] =
    write(meta, rows, bits, tile)

  /** BigTIFF writer (magic 43, u64 offsets everywhere — what GDAL emits
    * with `BIGTIFF=YES` or automatically past 4 GiB; TIFF tags and chunk
    * layout otherwise identical to [[encode]]). Uncompressed strips or
    * tiles; [[decode]] reads both magics through one parser, so the
    * round-trip gate covers the 20-byte IFD entries, u64 counts, and
    * LONG8 offset arrays that differ. In-memory fixtures stay < 2 GiB;
    * the format's u64 offsets are the point — a 100-TB pipeline's
    * mosaics exceed classic TIFF's 4 GiB addressing. */
  def encodeBig(meta: GridMeta, rows: Array[Array[Double]], bits: Int,
                tile: Option[(Int, Int)]): Array[Byte] =
    write(meta, rows, bits, tile, big = true)

  /** LZW writer (Compression=5, the variant GDAL emits for the
    * reference's compressed rasters — differencing_functions.py:696–705):
    * same strip/tile layout as [[encode]], but every chunk is an
    * [[Lzw]] stream and the byte-count arrays carry the real compressed
    * sizes. [[decode]] reads both compressions, so the oracle round-trip
    * gates the codec end to end. */
  def encodeLzw(meta: GridMeta, rows: Array[Array[Double]], bits: Int,
                tile: Option[(Int, Int)]): Array[Byte] =
    write(meta, rows, bits, tile, 5, Lzw.encode)

  /** Deflate writer (Compression=8, GDAL "compress=DEFLATE" — the other
    * compression the reference's GDAL stack round-trips): identical
    * strip/tile layout, chunks are zlib streams ([[Zlib]], RFC 1950).
    * [[decode]] reads all three compressions. */
  def encodeDeflate(meta: GridMeta, rows: Array[Array[Double]], bits: Int,
                    tile: Option[(Int, Int)]): Array[Byte] =
    write(meta, rows, bits, tile, 8, Zlib.deflate)

  /** LZW + Predictor=3 writer — GDAL's `COMPRESS=LZW,PREDICTOR=3`
    * combination for float rasters (TIFF TechNote 3): each chunk's
    * scanlines are byte-plane-shuffled and horizontally differenced
    * before the LZW pass, which is what makes float DEMs compress. */
  def encodeLzwPred3(meta: GridMeta, rows: Array[Array[Double]], bits: Int,
                     tile: Option[(Int, Int)]): Array[Byte] =
    write(meta, rows, bits, tile, 5, Lzw.encode, predictor = 3)

  /** Deflate + Predictor=3 writer (`COMPRESS=DEFLATE,PREDICTOR=3`). */
  def encodeDeflatePred3(meta: GridMeta, rows: Array[Array[Double]], bits: Int,
                         tile: Option[(Int, Int)]): Array[Byte] =
    write(meta, rows, bits, tile, 8, Zlib.deflate, predictor = 3)

  /** PackBits writer (Compression=32773, TIFF 6.0 §9) — the baseline RLE
    * every conformant reader supports; per-scanline packet restarts. */
  def encodePackBits(meta: GridMeta, rows: Array[Array[Double]], bits: Int,
                     tile: Option[(Int, Int)]): Array[Byte] =
    write(meta, rows, bits, tile, 32773,
      PackBits.encode(_, tile.fold(meta.width)(_._1) * (bits / 8)))

  /** Mean-downsample by factor `k` (GDAL AVERAGE resampling over VALID
    * cells: nodata/NaN excluded from each k×k block's mean; an all-
    * nodata block stays nodata). Deterministic row-major accumulation
    * inside each block. The overview grid keeps the origin and scales
    * the cell size, so world extents are identical across levels. */
  def downsample(meta: GridMeta, rows: Array[Array[Double]], k: Int)
      : (GridMeta, Array[Array[Double]]) = {
    require(k > 1, s"downsample factor must be > 1, got $k")
    val ow = (meta.width + k - 1) / k
    val oh = (meta.height + k - 1) / k
    val out = Array.tabulate(oh, ow) { (or, oc) =>
      var sum = 0.0
      var n = 0
      var r = or * k
      val rEnd = math.min((or + 1) * k, meta.height)
      val cEnd = math.min((oc + 1) * k, meta.width)
      while (r < rEnd) {
        var c = oc * k
        while (c < cEnd) {
          val v = rows(r)(c)
          if (v != meta.nodata && !v.isNaN) { sum += v; n += 1 }
          c += 1
        }
        r += 1
      }
      if (n == 0) meta.nodata else sum / n
    }
    (meta.copy(width = ow, height = oh, dx = meta.dx * k, dy = meta.dy * k), out)
  }

  /** Overview-pyramid writer — the reference's raster sink copies source
    * overviews into its GeoTIFFs (COPY_SRC_OVERVIEWS,
    * differencing_functions.py:696–705, 2493–2496): IFD0 is the full-
    * resolution image and each following IFD in the next-IFD chain is
    * the raster mean-downsampled ([[downsample]]) by the matching entry
    * of `levels` (each factor relative to FULL resolution, ascending —
    * the GDAL `2 4 8 …` convention). At 100 TB the pyramid is a
    * pruning/LOD lever: a coarse query reads the 1/16-resolution IFD,
    * not every full-res chunk. Every page carries its own geo tags
    * (scaled pixel size, same origin) and chunk layout; `compTag`/
    * `codec` select the chunk compression exactly as in the single-IFD
    * writers, except PackBits: its `codec` is sized for one chunk width,
    * which the downsampled strip pages do not share. [[decodeLevel]]
    * reads any page; [[decode]] still reads IFD0, so pyramided bytes stay
    * drop-in for every level-0 consumer. */
  def encodeOverviews(meta: GridMeta, rows: Array[Array[Double]], bits: Int,
                      tile: Option[(Int, Int)], levels: Seq[Int],
                      compTag: Int = 1,
                      codec: Array[Byte] => Array[Byte] = identity)
      : Array[Byte] = {
    require(levels.nonEmpty && levels.forall(_ > 1) &&
      levels == levels.sorted && levels.distinct == levels,
      s"overview levels must be distinct ascending factors > 1, got $levels")
    require(compTag != 32773, "PackBits (32773) is not supported for overview pages")
    require(compTag == 1 || compTag == 5 || compTag == 8,
      s"unsupported compression tag $compTag")
    write(meta, rows, bits, tile, compTag, codec, levels = levels)
  }

  /** The one TIFF writer behind every `encode*` entry point. Its pages
    * are the full-resolution grid, then one [[downsample]]d grid per
    * entry of `levels`. Each page is cut into strips (one per row) or
    * `tile`s (edge tiles padded with nodata); each chunk gets
    * Predictor=3 if asked, then `codec`. A page is laid out in file
    * order: IFD (entries sorted by tag), chunk offset and byte-count
    * arrays, pixel scale and tiepoint, the nodata string, then the
    * word-aligned chunks. Next-IFD pointers chain the pages. `big`
    * switches to BigTIFF widths: a 16-byte header, 20-byte entries, and
    * LONG8 counts, offsets and chain pointers. */
  private def write(meta: GridMeta, rows: Array[Array[Double]], bits: Int,
      tile: Option[(Int, Int)], compTag: Int = 1,
      codec: Array[Byte] => Array[Byte] = identity, predictor: Int = 1,
      big: Boolean = false, levels: Seq[Int] = Nil): Array[Byte] = {
    require(rows.length == meta.height, s"expected ${meta.height} rows, got ${rows.length}")
    rows.foreach(r =>
      require(r.length == meta.width, s"expected ${meta.width} cols, got ${r.length}"))
    require(bits == 32 || bits == 64, s"bits must be 32 or 64, got $bits")
    tile.foreach { case (tw, th) =>
      require(tw > 0 && th > 0 && tw % 16 == 0 && th % 16 == 0,
        s"TIFF tile dims must be positive multiples of 16, got ${tw}x$th") }
    val px = bits / 8
    val ofs = if (big) 8 else 4 // bytes per offset, count and IFD value field
    def chunks(m: GridMeta, rws: Array[Array[Double]]): Array[Array[Byte]] = {
      val (tw, th) = tile.getOrElse((m.width, 1))
      val across = if (tile.isEmpty) 1 else (m.width + tw - 1) / tw
      Array.tabulate(across * ((m.height + th - 1) / th)) { t =>
        val bb = ByteBuffer.allocate(px * tw * th).order(ByteOrder.LITTLE_ENDIAN)
        val (r0, c0) = ((t / across) * th, (t % across) * tw)
        for (r <- r0 until r0 + th; c <- c0 until c0 + tw) {
          val v = if (r < m.height && c < m.width) rws(r)(c) else m.nodata
          if (px == 8) bb.putDouble(v) else bb.putFloat(v.toFloat)
        }
        val raw = bb.array()
        if (predictor == 3) FpPredictor.difference(raw, tw, px)
        codec(raw)
      }
    }
    val pages = ((meta, rows) +: levels.map(downsample(meta, rows, _)))
      .map { case (m, rws) => (m, chunks(m, rws)) }
    // GDAL writes the sentinel as ASCII; keep it round-trip exact
    val nodata = ((if (meta.nodata == meta.nodata.toLong.toDouble)
      meta.nodata.toLong.toString else meta.nodata.toString) + " ").getBytes("US-ASCII")
    val tags = (Seq(TAG_WIDTH, TAG_HEIGHT, TAG_BITS, TAG_COMPRESSION,
      TAG_PHOTOMETRIC, TAG_SAMPLES_PER_PX, TAG_SAMPLE_FORMAT,
      TAG_PIXEL_SCALE, TAG_TIEPOINT, TAG_GDAL_NODATA) ++
      (if (tile.isEmpty) Seq(TAG_STRIP_OFFSETS, TAG_ROWS_PER_STRIP, TAG_STRIP_COUNTS)
       else Seq(TAG_TILE_WIDTH, TAG_TILE_LENGTH, TAG_TILE_OFFSETS, TAG_TILE_COUNTS)) ++
      (if (predictor == 3) Seq(TAG_PREDICTOR) else Nil)).sorted
    val ifdSize = (if (big) 8 else 2) + tags.length * (if (big) 20 else 12) + ofs
    def align(at: Int): Int = (at + 1) & ~1
    // per page: its IFD offset and its chunk starts (the last is the page end)
    var end = if (big) 16 else 8
    val layout = pages.map { case (_, cs) =>
      val ifd = end
      val dataOff = align(ifd + ifdSize + 2 * ofs * cs.length + 8 * 9 + nodata.length)
      val starts = cs.scanLeft(dataOff)((at, c) => align(at + c.length))
      end = starts.last
      (ifd, starts)
    }
    val b = ByteBuffer.allocate(end).order(ByteOrder.LITTLE_ENDIAN)
    def off(v: Long): Unit = if (big) b.putLong(v) else b.putInt(v.toInt)
    b.put('I'.toByte).put('I'.toByte)
    if (big) b.putShort(43).putShort(8).putShort(0) else b.putShort(42)
    off(layout.head._1)
    val nexts = layout.drop(1).map(_._1) :+ 0
    for ((((m, cs), (ifd, starts)), next) <- pages.zip(layout).zip(nexts)) {
      val n = cs.length
      val arrays = ifd + ifdSize
      val geo = arrays + 2 * ofs * n
      b.position(ifd)
      if (big) b.putLong(tags.length) else b.putShort(tags.length.toShort)
      for (tag <- tags) {
        def entry(typ: Int, count: Int)(value: => Any): Unit = {
          b.putShort(tag.toShort).putShort(typ.toShort)
          off(count)
          val p = b.position()
          value
          b.position(p + ofs)
        }
        tag match {
          case TAG_WIDTH => entry(4, 1)(b.putInt(m.width))
          case TAG_HEIGHT => entry(4, 1)(b.putInt(m.height))
          case TAG_BITS => entry(3, 1)(b.putShort(bits.toShort))
          case TAG_COMPRESSION => entry(3, 1)(b.putShort(compTag.toShort))
          case TAG_PHOTOMETRIC | TAG_SAMPLES_PER_PX => entry(3, 1)(b.putShort(1))
          case TAG_ROWS_PER_STRIP => entry(4, 1)(b.putInt(1))
          case TAG_PREDICTOR | TAG_SAMPLE_FORMAT => entry(3, 1)(b.putShort(3))
          case TAG_TILE_WIDTH => entry(3, 1)(b.putShort(tile.get._1.toShort))
          case TAG_TILE_LENGTH => entry(3, 1)(b.putShort(tile.get._2.toShort))
          // LONG/LONG8 arrays are read inline when they fit the value
          // field, so a one-chunk page carries the value, not a pointer
          case TAG_STRIP_OFFSETS | TAG_TILE_OFFSETS =>
            entry(if (big) 16 else 4, n)(off(if (n == 1) starts(0) else arrays))
          case TAG_STRIP_COUNTS | TAG_TILE_COUNTS =>
            entry(if (big) 16 else 4, n)(off(if (n == 1) cs(0).length else arrays + ofs * n))
          case TAG_PIXEL_SCALE => entry(12, 3)(off(geo))
          case TAG_TIEPOINT => entry(12, 6)(off(geo + 24))
          // ASCII values that fit the value field are INLINE per the TIFF
          // spec (readers, ours included, treat them so) — short
          // sentinels like "-1 " must carry their bytes, not a pointer
          case TAG_GDAL_NODATA => entry(2, nodata.length)(
            if (nodata.length <= ofs) b.put(nodata) else off(geo + 72))
        }
      }
      off(next) // chain to the next page's IFD; 0 ends the chain
      starts.init.foreach(off(_))
      cs.foreach(c => off(c.length))
      b.putDouble(m.dx).putDouble(m.dy).putDouble(0.0)
      b.putDouble(0.0).putDouble(0.0).putDouble(0.0)
      b.putDouble(m.originX).putDouble(m.originY).putDouble(0.0)
      b.put(nodata)
      for ((c, at) <- cs.zip(starts)) b.position(at).put(c)
    }
    b.array()
  }

  /** Distributed ingest boundary: a table `[tile_id:int, data:binary]` of
    * GeoTIFF tiles → valid-pixel table `[tile_id, col, row, value]`,
    * decoded tile-parallel (no driver involvement, no native libs). */
  def tilesToPixels(tiles: DataFrame): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.select(col("tile_id").cast("int"), col("data"))
      .as[(Int, Array[Byte])]
      .flatMap { case (id, data) =>
        val (meta, rows) = decode(data)
        for {
          (vals, r) <- rows.iterator.zipWithIndex
          (v, c) <- vals.iterator.zipWithIndex
          if !v.isNaN && v != meta.nodata
        } yield (id, c, r, v)
      }
      .toDF("tile_id", "col", "row", "value")
  }
}
