package graft

import graft.ingest.{DenseRaster, GeoTiff, PackBits}
import graft.raster.GridMeta

class GeoTiffSpec extends SparkSuite {
  import spark.implicits._

  private val meta = GridMeta(
    originX = 500000.0, originY = 4100000.0, dx = 2.0, dy = 2.0,
    width = 5, height = 4, nodata = -9999.0)

  private val rows: Array[Array[Double]] = Array(
    Array(1.5, -9999.0, 3.25, 0.0, -2.75),
    Array(-9999.0, -9999.0, 7.125, 8.0, 9.5),
    Array(1e-12, 1e12, -0.0, 42.0, -9999.0),
    Array(0.1, 0.2, 0.3, 0.4, 0.5))

  test("encode → decode is bit-lossless and preserves geo metadata") {
    val bytes = GeoTiff.encode(meta, rows)
    val (m2, rows2) = GeoTiff.decode(bytes)
    assert(m2.width == meta.width && m2.height == meta.height)
    assert(m2.originX == meta.originX && m2.originY == meta.originY)
    assert(m2.dx == meta.dx && m2.dy == meta.dy)
    assert(m2.nodata == meta.nodata)
    for (r <- rows.indices; c <- rows(r).indices)
      assert(java.lang.Double.doubleToLongBits(rows2(r)(c)) ==
        java.lang.Double.doubleToLongBits(rows(r)(c)),
        s"pixel ($c,$r): ${rows2(r)(c)} vs ${rows(r)(c)}")
  }

  test("encode → decode → encode is byte-identical (fixed point)") {
    val b1 = GeoTiff.encode(meta, rows)
    val (m2, rows2) = GeoTiff.decode(b1)
    val b2 = GeoTiff.encode(m2, rows2)
    assert(java.util.Arrays.equals(b1, b2))
  }

  test("tilesToPixels drops nodata and matches the dense unpivot") {
    val bytes = GeoTiff.encode(meta, rows)
    val tiles = Seq((7, bytes)).toDF("tile_id", "data")
    val got = GeoTiff.tilesToPixels(tiles)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getDouble(3))).toSet
    val expected = (for {
      (vals, r) <- rows.zipWithIndex
      (v, c) <- vals.zipWithIndex if v != meta.nodata
    } yield (c, r, v)).toSet
    assert(got == expected)
    // and every tile row carries the tile id through
    assert(GeoTiff.tilesToPixels(tiles).select("tile_id").distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("decoder rejects what it cannot represent") {
    val bytes = GeoTiff.encode(meta, rows)
    intercept[IllegalArgumentException] {
      GeoTiff.decode("garbage-not-a-tiff".getBytes)
    }
    // flip the compression tag to LZW=5 → loud failure, not silent junk
    val corrupt = bytes.clone()
    // find the compression entry (tag 259) in the IFD and set value to 5
    val b = java.nio.ByteBuffer.wrap(corrupt).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = b.getInt(4)
    val n = b.getShort(ifd)
    var hit = false
    for (i <- 0 until n) {
      val e = ifd + 2 + i * 12
      if ((b.getShort(e) & 0xffff) == 259) { b.putShort(e + 8, 5); hit = true }
    }
    assert(hit)
    intercept[IllegalArgumentException] { GeoTiff.decode(corrupt) }
  }

  test("float32 write path round-trips at float precision") {
    val bytes = GeoTiff.encode(meta, rows, 32, None)
    val (m2, rows2) = GeoTiff.decode(bytes)
    assert(m2 == meta)
    for (r <- rows.indices; c <- rows(r).indices)
      assert(rows2(r)(c) == rows(r)(c).toFloat.toDouble,
        s"pixel ($c,$r): ${rows2(r)(c)} vs ${rows(r)(c).toFloat.toDouble}")
  }

  test("tiled layout round-trips bit-lossless, edge tiles padded") {
    // 37x21 → 3x2 grid of 16x16 tiles with ragged right/bottom edges
    val m = meta.copy(width = 37, height = 21)
    val big = Array.tabulate(21, 37) { (r, c) =>
      if ((r * 37 + c) % 11 == 0) m.nodata else math.sin(r * 1.7 + c) * 100.0
    }
    for (bits <- Seq(32, 64)) {
      val bytes = GeoTiff.encode(m, big, bits, Some((16, 16)))
      val (m2, rows2) = GeoTiff.decode(bytes)
      assert(m2 == m)
      for (r <- 0 until 21; c <- 0 until 37) {
        val want = if (bits == 32) big(r)(c).toFloat.toDouble else big(r)(c)
        assert(java.lang.Double.doubleToLongBits(rows2(r)(c)) ==
          java.lang.Double.doubleToLongBits(want), s"bits=$bits pixel ($c,$r)")
      }
    }
  }

  test("single-tile file reads through the inline-offset path") {
    val m = meta.copy(width = 16, height = 16)
    val one = Array.tabulate(16, 16)((r, c) => r * 16.0 + c)
    val (m2, rows2) = GeoTiff.decode(GeoTiff.encode(m, one, 64, Some((16, 16))))
    assert(m2 == m)
    for (r <- 0 until 16; c <- 0 until 16) assert(rows2(r)(c) == one(r)(c))
  }

  test("non-multiple-of-16 tile dims are rejected") {
    intercept[IllegalArgumentException] {
      GeoTiff.encode(meta, rows, 64, Some((15, 16)))
    }
  }

  test("Deflate (Compression=8) round-trips bit-lossless, strip and tile") {
    for (tile <- Seq[Option[(Int, Int)]](None, Some((16, 16)))) {
      val bytes = GeoTiff.encodeDeflate(meta, rows, 64, tile)
      val (m2, rows2) = GeoTiff.decode(bytes)
      assert(m2 == meta, s"tile=$tile")
      for (r <- rows.indices; c <- rows(r).indices)
        assert(java.lang.Double.doubleToLongBits(rows2(r)(c)) ==
          java.lang.Double.doubleToLongBits(rows(r)(c)), s"tile=$tile ($c,$r)")
    }
    // repetitive content must actually compress through the zlib path
    val flat = Array.fill(64)(Array.fill(64)(7.25))
    val m64 = meta.copy(width = 64, height = 64)
    assert(GeoTiff.encodeDeflate(m64, flat, 64, None).length <
      GeoTiff.encode(m64, flat, 64, None).length / 4)
  }

  test("BigTIFF (magic 43, u64 offsets) round-trips, strip and tile, f32+f64") {
    for (tile <- Seq[Option[(Int, Int)]](None, Some((16, 16)));
         bits <- Seq(32, 64)) {
      val bytes = GeoTiff.encodeBig(meta, rows, bits, tile)
      assert(bytes(2) == 43 && bytes(3) == 0, "BigTIFF magic")
      val (m2, rows2) = GeoTiff.decode(bytes)
      assert(m2 == meta, s"bits=$bits tile=$tile")
      for (r <- rows.indices; c <- rows(r).indices) {
        val want = if (bits == 64) rows(r)(c) else rows(r)(c).toFloat.toDouble
        assert(java.lang.Double.doubleToLongBits(rows2(r)(c)) ==
          java.lang.Double.doubleToLongBits(want), s"bits=$bits tile=$tile ($c,$r)")
      }
    }
    // single-chunk file exercises the inline LONG8 offset path
    val one = meta.copy(width = 16, height = 16)
    val small = Array.fill(16)(Array.tabulate(16)(_ * 1.5 + 90))
    val (m1, r1) = GeoTiff.decode(GeoTiff.encodeBig(one, small, 64, Some((16, 16))))
    assert(m1 == one && r1(3)(5) == small(3)(5))
    // malformed offset-size field is rejected by name
    val bad = GeoTiff.encodeBig(one, small, 64, None)
    bad(4) = 4
    val e = intercept[IllegalArgumentException](GeoTiff.decode(bad))
    assert(e.getMessage.contains("BigTIFF"))
    // corrupt u64 IFD entry count must reject BEFORE the entry loop, not
    // truncate to Int and walk garbage entries
    val bad2 = GeoTiff.encodeBig(one, small, 64, None)
    val ifdOff = java.nio.ByteBuffer.wrap(bad2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong(8).toInt
    java.nio.ByteBuffer.wrap(bad2).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putLong(ifdOff, 0x1_0000_0000L + 7) // truncates to 7 in Int
    val e2 = intercept[IllegalArgumentException](GeoTiff.decode(bad2))
    assert(e2.getMessage.contains("runs past file end"), e2.getMessage)
  }

  test("Predictor=3 (float differencing) round-trips, strip+tile, f32+f64") {
    for (tile <- Seq[Option[(Int, Int)]](None, Some((16, 16)));
         (enc, name) <- Seq(
           (GeoTiff.encodeLzwPred3 _, "lzw+p3"),
           (GeoTiff.encodeDeflatePred3 _, "deflate+p3"))) {
      val bytes = enc(meta, rows, 64, tile)
      val (m2, rows2) = GeoTiff.decode(bytes)
      assert(m2 == meta, s"$name tile=$tile")
      for (r <- rows.indices; c <- rows(r).indices)
        assert(java.lang.Double.doubleToLongBits(rows2(r)(c)) ==
          java.lang.Double.doubleToLongBits(rows(r)(c)), s"$name tile=$tile ($c,$r)")
    }
    // f32 path at float precision
    val b32 = GeoTiff.encodeLzwPred3(meta, rows, 32, None)
    val (_, r32) = GeoTiff.decode(b32)
    for (r <- rows.indices; c <- rows(r).indices)
      assert(r32(r)(c) == rows(r)(c).toFloat.toDouble, s"f32 ($c,$r)")
    // the predictor must actually help: smooth float fields compress
    // better WITH the byte-plane shuffle than without it
    val smooth = Array.tabulate(64, 64)((r, c) => 1000.0 + r * 0.25 + c * 0.125)
    val m64 = meta.copy(width = 64, height = 64)
    assert(GeoTiff.encodeLzwPred3(m64, smooth, 64, None).length <
      GeoTiff.encodeLzw(m64, smooth, 64, None).length,
      "predictor did not improve smooth-field compression")
    // filters invert exactly on raw byte rows too
    val buf = Array.tabulate[Byte](4 * 16 * 3)(i => (i * 73 + 11).toByte)
    val copy = buf.clone()
    graft.ingest.FpPredictor.difference(copy, 16, 4)
    assert(!copy.sameElements(buf))
    graft.ingest.FpPredictor.accumulate(copy, 16, 4)
    assert(copy.sameElements(buf))
  }

  test("PackBits (Compression=32773) round-trips, strip and tile") {
    for (tile <- Seq[Option[(Int, Int)]](None, Some((16, 16)))) {
      val bytes = GeoTiff.encodePackBits(meta, rows, 64, tile)
      val (m2, rows2) = GeoTiff.decode(bytes)
      assert(m2 == meta, s"tile=$tile")
      for (r <- rows.indices; c <- rows(r).indices)
        assert(java.lang.Double.doubleToLongBits(rows2(r)(c)) ==
          java.lang.Double.doubleToLongBits(rows(r)(c)), s"tile=$tile ($c,$r)")
    }
    // RLE wins on constant content, stays near-raw on noise
    val flat = Array.fill[Byte](4096)(42)
    assert(PackBits.decode(PackBits.encode(flat, 256)).sameElements(flat))
    assert(PackBits.encode(flat, 256).length < flat.length / 10)
    val noise = Array.tabulate[Byte](4096)(i => (i * 131 + 7).toByte)
    assert(PackBits.decode(PackBits.encode(noise, 256)).sameElements(noise))
    // spec edge cases: -128 no-op byte is skipped, truncation throws
    assert(PackBits.decode(Array[Byte](-128, 0, 55)).sameElements(Array[Byte](55)))
    intercept[IllegalArgumentException] {
      PackBits.decode(Array[Byte](5, 1, 2)) // literal of 6 with 2 present
    }
  }

  test("zlib helper rejects truncated streams and validates length") {
    val raw = Array.tabulate[Byte](1000)(i => (i * 31).toByte)
    val comp = graft.ingest.Zlib.deflate(raw)
    assert(graft.ingest.Zlib.inflate(comp, raw.length).sameElements(raw))
    intercept[Exception] {
      graft.ingest.Zlib.inflate(comp.take(comp.length / 2), raw.length)
    }
    intercept[IllegalArgumentException] {
      graft.ingest.Zlib.inflate(comp, raw.length + 1)
    }
  }

  test("round trip through the pixel-table model keeps only valid pixels") {
    val px = DenseRaster.toPixels(rows.zipWithIndex.map { case (v, r) =>
      (r, v.toSeq) }.toSeq.toDF("row", "values"), meta)
    val dense = DenseRaster.toDense(px, meta).orderBy("row")
      .collect().map(_.getSeq[Double](1).toArray)
    val bytes = GeoTiff.encode(meta, dense)
    val (_, rows2) = GeoTiff.decode(bytes)
    for (r <- rows.indices; c <- rows(r).indices)
      assert(rows2(r)(c) == rows(r)(c))
  }

  test("downsample: nodata-excluded block means, all-nodata blocks stay nodata") {
    val (m2, d2) = GeoTiff.downsample(meta, rows, 2)
    // 5x4 → 3x2; origin unchanged, cell size doubled
    assert(m2.width == 3 && m2.height == 2)
    assert(m2.originX == meta.originX && m2.dx == meta.dx * 2)
    // block (0,0): valid {1.5}, two nodata; block (1,0): {3.25, 0.0, 7.125, 8.0}
    assert(d2(0)(0) == 1.5)
    assert(d2(0)(1) == (3.25 + 0.0 + 7.125 + 8.0) / 4)
    // edge block (2,0): {-2.75, 9.5} (width 5 → last block 1 col wide)
    assert(d2(0)(2) == (-2.75 + 9.5) / 2)
    // an all-nodata block keeps the sentinel
    val holes = Array(
      Array(-9999.0, -9999.0, 1.0, 2.0),
      Array(-9999.0, -9999.0, 3.0, 4.0))
    val (_, dh) = GeoTiff.downsample(
      meta.copy(width = 4, height = 2), holes, 2)
    assert(dh(0)(0) == -9999.0 && dh(0)(1) == 2.5)
  }

  test("overview pyramid: every IFD level decodes; decode() still reads level 0") {
    val bytes = GeoTiff.encodeOverviews(meta, rows, 64, None, Seq(2, 4))
    assert(GeoTiff.levelCount(bytes) == 3)
    // level 0 is bit-identical to the plain encode result
    val (m0, r0) = GeoTiff.decodeLevel(bytes, 0)
    val (mPlain, rPlain) = GeoTiff.decode(GeoTiff.encode(meta, rows))
    assert(m0 == mPlain)
    for (r <- rows.indices; c <- rows(r).indices)
      assert(java.lang.Double.doubleToLongBits(r0(r)(c)) ==
        java.lang.Double.doubleToLongBits(rPlain(r)(c)))
    // decode() (no level) reads the same full-res page
    val (_, rDefault) = GeoTiff.decode(bytes)
    assert(rDefault(2)(1) == 1e12)
    // level 1/2 match the downsample reference exactly
    val (m1, r1) = GeoTiff.decodeLevel(bytes, 1)
    val (mRef1, ref1) = GeoTiff.downsample(meta, rows, 2)
    assert(m1 == mRef1)
    for (r <- ref1.indices; c <- ref1(r).indices)
      assert(java.lang.Double.doubleToLongBits(r1(r)(c)) ==
        java.lang.Double.doubleToLongBits(ref1(r)(c)))
    val (m2, r2) = GeoTiff.decodeLevel(bytes, 2)
    assert(m2.width == 2 && m2.height == 1 && m2.dx == meta.dx * 4)
    val (_, ref2) = GeoTiff.downsample(meta, rows, 4)
    for (r <- ref2.indices; c <- ref2(r).indices)
      assert(r2(r)(c) == ref2(r)(c))
    // past the chain end rejects loudly
    val e = intercept[IllegalArgumentException](GeoTiff.decodeLevel(bytes, 3))
    assert(e.getMessage.contains("no overview level"))
  }

  test("a cycling next-IFD chain rejects loudly instead of spinning the level walk") {
    // patch a plain single-IFD file so its next-IFD pointer points back
    // at IFD0: levelCount / the connector's resolution walk only stop on
    // "no overview level", so without cycle detection this input spins
    // them forever (infinite-loop DoS), not just garbage output
    val bytes = GeoTiff.encode(meta, rows)
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd0 = b.getInt(4)
    val n = b.getShort(ifd0) & 0xffff
    b.putInt(ifd0 + 2 + n * 12, ifd0) // next-IFD := self
    val e = intercept[IllegalArgumentException](GeoTiff.levelCount(bytes))
    assert(e.getMessage.contains("cycles"), e.getMessage)
    intercept[IllegalArgumentException](GeoTiff.metaLevel(bytes, 2))
    // level 0 decode is unaffected (the cycle sits past the first IFD)
    assert(GeoTiff.decode(bytes)._2(2)(1) == 1e12)
  }

  test("overview pyramid composes with LZW tiles and survives a tiled layout") {
    val big = GridMeta(width = 40, height = 35, nodata = -1.0)
    val data = Array.tabulate(35, 40)((r, c) =>
      if ((r * 40 + c) % 11 == 0) -1.0 else (r * 40 + c) / 8.0)
    val bytes = GeoTiff.encodeOverviews(big, data, 64, Some((16, 16)),
      Seq(2, 4), compTag = 5, codec = graft.ingest.Lzw.encode)
    assert(GeoTiff.levelCount(bytes) == 3)
    val (_, r0) = GeoTiff.decodeLevel(bytes, 0)
    for (r <- 0 until 35; c <- 0 until 40) assert(r0(r)(c) == data(r)(c))
    val (m1, r1) = GeoTiff.decodeLevel(bytes, 1)
    val (mRef, ref) = GeoTiff.downsample(big, data, 2)
    assert(m1 == mRef)
    for (r <- ref.indices; c <- ref(r).indices)
      assert(java.lang.Double.doubleToLongBits(r1(r)(c)) ==
        java.lang.Double.doubleToLongBits(ref(r)(c)))
  }

  test("encodeOverviews with the wrong dims fails naming them, before downsampling") {
    val short = intercept[IllegalArgumentException](
      GeoTiff.encodeOverviews(meta, rows.take(2), 64, None, Seq(2)))
    assert(short.getMessage.contains("expected 4 rows, got 2"), short.getMessage)
    val narrow = intercept[IllegalArgumentException](
      GeoTiff.encodeOverviews(meta, rows.map(_.take(3)), 64, None, Seq(2)))
    assert(narrow.getMessage.contains("expected 5 cols, got 3"), narrow.getMessage)
  }

  test("encodeOverviews rejects PackBits by name, in strips and in tiles") {
    // the codec is sized for one page's chunk width, which the
    // downsampled strip pages do not share
    val big = GridMeta(width = 37, height = 21)
    val data = Array.tabulate(21, 37)((r, c) => r * 37.0 + c)
    for (tile <- Seq(None, Some((16, 16)))) {
      val e = intercept[IllegalArgumentException](
        GeoTiff.encodeOverviews(big, data, 64, tile, Seq(2), compTag = 32773,
          codec = PackBits.encode(_, tile.fold(37)(_._1) * 8)))
      assert(e.getMessage.contains("PackBits (32773)"), e.getMessage)
    }
  }

  test("a zero-width or zero-height grid fails where it is made") {
    for ((w, h) <- Seq((0, 3), (3, 0), (0, 0), (-1, 4))) {
      val e = intercept[IllegalArgumentException](GridMeta(width = w, height = h))
      assert(e.getMessage.contains(s"grid size ${w}x$h"), e.getMessage)
    }
  }

  // Byte pin: one SHA-256 per public writer over a fixed matrix of grids,
  // layouts, sample widths and nodata sentinels, captured from the
  // writers before they were folded into one page-chain writer. The
  // round-trip tests above gate pixels; this gates every output byte.
  private def pinDigest(outputs: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for (o <- outputs) {
      md.update(java.nio.ByteBuffer.allocate(4).putInt(o.length).array())
      md.update(o)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def pinCells(m: GridMeta): Array[Array[Double]] =
    Array.tabulate(m.height, m.width) { (r, c) =>
      if ((r * 7 + c) % 13 == 0) m.nodata
      else if (r == 3 && c == 5) Double.NaN
      else r * 100.0 + ((r * 37 + c * 11) % 101) * 0.125 + c / 3.0
    }

  test("every writer's output bytes are pinned over a fixed layout matrix") {
    type W = (GridMeta, Array[Array[Double]], Int, Option[(Int, Int)]) => Array[Byte]
    val grid = GridMeta(originX = 500000.5, originY = 4100000.25,
      dx = 1.5, dy = 2.0, width = 37, height = 21, nodata = -9999.0)
    // -9999 is a pointer in classic TIFF and inline in BigTIFF; -1 is
    // inline in both. The 16x16 one-tile and 9x1 one-strip grids take
    // the inline chunk-offset path.
    val grids = for (nd <- Seq(-9999.0, -1.0)) yield grid.copy(nodata = nd)
    val single = Seq(grid.copy(width = 16, height = 16) -> Some((16, 16)),
      grid.copy(width = 9, height = 1) -> None)
    val layouts = Seq[Option[(Int, Int)]](None, Some((16, 16)), Some((32, 16)))
    def matrix(w: W): Seq[Array[Byte]] =
      (for (m <- grids; bits <- Seq(32, 64); t <- layouts)
        yield w(m, pinCells(m), bits, t)) ++
      single.map { case (m, t) => w(m, pinCells(m), 64, t) }
    val writers = Seq[(String, W)](
      ("encode", GeoTiff.encode(_, _, _, _)),
      ("encodeBig", GeoTiff.encodeBig(_, _, _, _)),
      ("encodeLzw", GeoTiff.encodeLzw(_, _, _, _)),
      ("encodeDeflate", GeoTiff.encodeDeflate(_, _, _, _)),
      ("encodeLzwPred3", GeoTiff.encodeLzwPred3(_, _, _, _)),
      ("encodeDeflatePred3", GeoTiff.encodeDeflatePred3(_, _, _, _)),
      ("encodePackBits", GeoTiff.encodePackBits(_, _, _, _)))
    val codecs = Seq[(String, Int, Array[Byte] => Array[Byte])](
      ("none", 1, identity), ("lzw", 5, graft.ingest.Lzw.encode),
      ("deflate", 8, graft.ingest.Zlib.deflate))
    val got = writers.map { case (name, w) => name -> pinDigest(matrix(w)) } ++
      Seq("encode/2" -> pinDigest((grids ++ single.map(_._1))
        .map(m => GeoTiff.encode(m, pinCells(m))))) ++
      codecs.map { case (name, tag, codec) =>
        s"encodeOverviews/$name" -> pinDigest(
          for (m <- grids; t <- layouts.take(2); levels <- Seq(Seq(2), Seq(2, 4)))
            yield GeoTiff.encodeOverviews(m, pinCells(m), 64, t, levels, tag, codec))
      }
    val want = Seq(
      "encode" ->
        "a0e8bf44e8c404714ad03a0ee96c8c2d5c1e1145421db70d463997217fe1fdce",
      "encodeBig" ->
        "79c0dd10fa3420afc5ab344c5c5443a4b6abcd5f8dc113319d3eba17d825f1b1",
      "encodeLzw" ->
        "61262b3d6736859cf94a5d2aec55514bc760b30f2899524f777527c76191cd4c",
      "encodeDeflate" ->
        "7dc2dcd350216170f26125dbf2d43c38138624cf3385eed8b56219b6a9abfeaa",
      "encodeLzwPred3" ->
        "76075a2a4bd4bff0589fcfed43699ebfa50bbdf7bcf49eccd8bb371e5ab773cf",
      "encodeDeflatePred3" ->
        "aa566aeb5b50ba8a7025cf96ed3d4dfec8c61d6750a6976cc843f366346daa7b",
      "encodePackBits" ->
        "fa9ef0bfc697e6015dbf06cda3b0ada93041f83e02e8c11b3bd76318af022060",
      "encode/2" ->
        "be512cec8136e36800ed10edf18a1b122fc101e1b85cf503ca2d3a2b2418f0e1",
      "encodeOverviews/none" ->
        "295f142d58b45cb63636ef326a3d87545788619303631c7245c8df67e63e2255",
      "encodeOverviews/lzw" ->
        "aad63b6ea4acf2c196ff72c349f7eb5f90daea99a135efd011f2bfaf96be8bb5",
      "encodeOverviews/deflate" ->
        "79ace00a147c9f910f6143af1fa43abab68540c829ee7d42bd9233004cf9f1b8")
    val diff = got.zip(want).collect { case ((n, g), (_, w)) if g != w => s"$n -> $g" }
    assert(got.map(_._1) == want.map(_._1))
    if (diff.nonEmpty) fail(diff.mkString("writer bytes moved:\n", "\n", ""))
  }
}
