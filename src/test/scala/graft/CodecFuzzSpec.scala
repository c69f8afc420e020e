package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Las, Laz, Laz14}

/** Hostile-input fuzz over the point-cloud byte codecs: random byte
  * flips and truncations of VALID containers must either decode to SOME
  * array (arithmetic-stream desync legally yields garbage points — the
  * coder cannot detect it) or throw IllegalArgumentException by name
  * (the codec-family contract). What must NEVER escape: index
  * out-of-bounds, negative array sizes, arithmetic overflow surprises,
  * OOM-sized allocations — the failure classes the Long-math and
  * full-header bounds hardening exist to prevent. Deterministic:
  * mutation positions come from the counter RNG, so a failure
  * reproduces by seed. */
class CodecFuzzSpec extends AnyFunSuite {

  private def rnd(i: Long, salt: Long, mod: Int): Int =
    (graft.rng.Rand.mixLong(i, salt) % mod).toInt

  private def cloud(n: Int): Array[Las.P6] =
    Array.tabulate(n) { i =>
      val k = graft.rng.Rand.mixLong(i.toLong, 77L)
      Las.P6(
        x = (k % 1000) / 4.0, y = ((k / 1000) % 1000) / 4.0,
        z = ((k / 1000000) % 500) / 8.0,
        intensity = (k % 60000).toInt,
        returnNo = 1 + (k % 3).toInt, nReturns = 3,
        channel = (k % 4).toInt,
        classification = (k % 32).toInt,
        scanAngle = (k % 100).toInt - 50,
        sourceId = (k % 100).toInt,
        gpsTime = 1e5 + i * 0.25)
    }

  /** Returns a defect description, or None if the outcome is contractual. */
  private def probe(decode: Array[Byte] => Any, bytes: Array[Byte]): Option[String] =
    try { decode(bytes); None }
    catch {
      case _: IllegalArgumentException => None // the documented contract
      case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage} " +
        s"@ ${e.getStackTrace.headOption.getOrElse("?")}")
    }

  private def fuzz(name: String, good: Array[Byte],
                   decode: Array[Byte] => Any, iters: Int): Unit = {
    val defects = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until iters) {
      val b = good.clone()
      // 1-4 random byte flips
      val flips = 1 + rnd(i.toLong, 1000 + i, 4)
      for (j <- 0 until flips) {
        val pos = rnd(i.toLong * 7 + j, 2000 + i, b.length)
        b(pos) = (b(pos) ^ (1 << rnd(i.toLong * 13 + j, 3000 + i, 8))).toByte
      }
      probe(decode, b).foreach(d => defects += s"$name flip iter=$i: $d")
      // random truncation of the pristine container, PLUS a byte flip
      // near the cut (deep-fuzz found defects only this combo reaches —
      // e.g. a cell pointer surviving truncation but aimed past the cut)
      val cut = rnd(i.toLong, 4000 + i, good.length)
      val t = good.take(cut)
      if (t.length > 4)
        t(rnd(i.toLong, 5000 + i, t.length)) =
          (t(rnd(i.toLong, 5000 + i, t.length)) ^ 0xff).toByte
      probe(decode, t).foreach(d => defects += s"$name cutflip=$cut: $d")
    }
    assert(defects.isEmpty,
      s"${defects.length} non-contractual failures; first: ${defects.headOption.getOrElse("")}")
  }

  test("LAZ14 layered containers: flips and truncations never escape the contract") {
    fuzz("laz14", Laz14.encode(cloud(200), chunkSize = 64),
      bs => Laz14.decode(bs), iters = 300)
  }

  test("LAZ 1.2 containers: flips and truncations never escape the contract") {
    val pts = cloud(200).map(p => (p.x, p.y, p.z, p.classification, p.gpsTime))
    fuzz("laz", Laz.encodeTimed(pts, chunkSize = 64),
      bs => Laz.decodeTimed(bs), iters = 300)
  }

  test("raw LAS 1.4 fmt 6: flips and truncations never escape the contract") {
    fuzz("las14", Las.encode14(cloud(200)), bs => Las.decode14(bs), iters = 300)
  }

  test("raw LAS 1.2 fmt 1: flips and truncations never escape the contract") {
    val pts = cloud(200).map(p => (p.x, p.y, p.z, p.classification, p.gpsTime))
    fuzz("las12", Las.encodeTimed(pts), bs => Las.decodeTimed(bs), iters = 300)
  }

  // ---- the raster/vector/media codec family under the same contract ----

  private def grid(w: Int, h: Int): Array[Array[Double]] =
    Array.tabulate(h, w)((r, c) =>
      (graft.rng.Rand.mixLong((r * w + c).toLong, 31L) % 1000) / 16.0)

  test("GeoTIFF (incl. LZW/Deflate/PackBits/BigTIFF): fuzz holds the contract") {
    import graft.ingest.GeoTiff
    import graft.raster.GridMeta
    val m = GridMeta(width = 24, height = 16)
    val g = grid(24, 16)
    fuzz("tiff_f64", GeoTiff.encode(m, g), bs => GeoTiff.decode(bs), iters = 150)
    fuzz("tiff_lzw", GeoTiff.encodeLzw(m, g, 32, None),
      bs => GeoTiff.decode(bs), iters = 150)
    fuzz("tiff_deflate", GeoTiff.encodeDeflatePred3(m, g, 32, Some((16, 16))),
      bs => GeoTiff.decode(bs), iters = 150)
    fuzz("tiff_packbits", GeoTiff.encodePackBits(m, g, 32, None),
      bs => GeoTiff.decode(bs), iters = 150)
    fuzz("tiff_big", GeoTiff.encodeBig(m, g, 64, Some((16, 16))),
      bs => GeoTiff.decode(bs), iters = 150)
    fuzz("tiff_overviews", GeoTiff.encodeOverviews(m, g, 32, Some((16, 16)),
      Seq(2, 4), 5, graft.ingest.Lzw.encode),
      bs => { GeoTiff.levelCount(bs); GeoTiff.decodeLevel(bs, 1) }, iters = 150)
  }

  test("PNG: fuzz holds the contract") {
    import graft.ingest.Png
    val px = Array.tabulate(16, 24)((r, c) => (r * 24 + c) % 256)
    fuzz("png", Png.encode(24, 16, 8, 1, px), bs => Png.decode(bs), iters = 200)
  }

  test("GTX geoid grids: fuzz holds the contract") {
    import graft.ingest.Gtx
    val h = Gtx.Header(-30.0, 140.0, 0.05, 0.05, 12, 18)
    val rows = Array.tabulate(12, 18)((r, c) => (r * 18 + c) / 7.0f)
    fuzz("gtx", Gtx.encode(h, rows), bs => Gtx.decode(bs), iters = 200)
  }

  test("SHP + DBF vector files: fuzz holds the contract") {
    import graft.ingest.{Shp, Dbf}
    val polys: Seq[Shp.Poly] = Seq(
      (1L, Array(Array((0.0, 0.0), (4.0, 0.0), (4.0, 3.0), (0.0, 0.0)))),
      (2L, Array(Array((1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 1.0)))))
    fuzz("shp", Shp.encode(polys), bs => Shp.decode(bs), iters = 200)
    val dbf = Dbf.encode(Seq(Dbf.Field("NAME", 'C', 10), Dbf.Field("VAL", 'N', 8)),
      Seq(Seq("alpha", "12.5"), Seq("beta", "7")))
    fuzz("dbf", dbf, bs => Dbf.decode(bs), iters = 200)
  }

  test("GPKG (SQLite container) features: fuzz holds the contract") {
    import graft.ingest.Gpkg
    val wkb = graft.geom.Wkb.encodePolygon(
      Array(Array((0.0, 0.0), (3.0, 0.0), (3.0, 2.0), (0.0, 0.0))))
    val bytes = Gpkg.encodeFeatures(Seq(
      (1L, "zone_a", wkb), (2L, "zone_b", wkb)))
    fuzz("gpkg", bytes, bs => Gpkg.decodeFeatures(bs), iters = 200)
  }

  test("JPEG: fuzz holds the contract") {
    import graft.ingest.Jpeg
    val px = Array.tabulate(16, 16)((r, c) => (r * 13 + c * 7) % 256)
    fuzz("jpeg", Jpeg.encodeGray(16, 16, px), bs => Jpeg.decode(bs), iters = 200)
  }

  test("multimodal containers (BMP/WAV/AVI/MJPEG-AVI): fuzz holds the contract") {
    import graft.multimodal.Multimodal
    fuzz("bmp", Multimodal.encodeBmp24(12, 9, 5L),
      bs => Multimodal.bmpDims(bs), iters = 200)
    val wav = Multimodal.encodeWavPcm16(8000,
      Array.tabulate(400)(i => (i * 37 % 4096).toShort))
    fuzz("wav_info", wav, bs => Multimodal.wavInfo(bs), iters = 150)
    fuzz("wav_samples", wav, bs => Multimodal.wavSamples(bs), iters = 150)
    val avi = Multimodal.encodeAvi(8, 6, 4, 9L)
    fuzz("avi_info", avi, bs => Multimodal.aviInfo(bs), iters = 150)
    fuzz("avi_frames", avi, bs => Multimodal.aviFrames(bs), iters = 150)
    val jf = Array.tabulate(3) { k =>
      graft.ingest.Jpeg.encodeGray(16, 16,
        Array.tabulate(16, 16)((r, c) => (r * 11 + c * 5 + k * 17) % 256))
    }
    val mj = Multimodal.encodeAviMjpeg(16, 16, jf)
    fuzz("mjpeg_frames", mj, bs => Multimodal.aviFrames(bs), iters = 150)
  }

  test("NPY matrices: fuzz holds the contract") {
    import graft.ingest.Npy
    val m = Array.tabulate(10, 6)((r, c) => (r * 6 + c) / 3.0f)
    fuzz("npy", Npy.encodeF32(m), bs => Npy.decode(bs), iters = 200)
  }

  test("WKB geometry: fuzz holds the contract") {
    import graft.geom.Wkb
    val wkb = Wkb.encodeMultiPolygon(Array(
      Array(Array((0.0, 0.0), (5.0, 0.0), (5.0, 4.0), (0.0, 0.0))),
      Array(Array((1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 1.0)))))
    fuzz("wkb", wkb, bs => Wkb.decode(bs), iters = 200)
  }
}
