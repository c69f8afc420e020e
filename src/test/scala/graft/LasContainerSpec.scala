package graft

import graft.ingest.{Las, Laz, Laz14}

/** The LAS/LAZ container boundary: every writer's output bytes pinned by
  * SHA-256, and the DSv2 connector rejecting what the codecs reject. */
class LasContainerSpec extends SparkSuite {

  // Byte pin: one SHA-256 per writer over a fixed matrix of point sets
  // and chunk sizes, captured from the writers before the header, record
  // and LASzip container code moved into one module. The round-trip
  // specs gate decoded points; this gates every output byte.
  private def pinDigest(outputs: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for (o <- outputs) {
      md.update(java.nio.ByteBuffer.allocate(4).putInt(o.length).array())
      md.update(o)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private type T = (Double, Double, Double, Int, Double)

  /** Hand-picked edge points: negative coordinates, -0.0 next to 0.0
    * (the extents have two min/max spellings to agree on), half-unit
    * rounding ties, int32 extremes at 1e-6 scale, odd GPS times. */
  private val edge12: Array[T] = Array(
    (1000.125, -2000.5, 150.000001, 2, 315964800.0),
    (-0.0, 0.0, -0.0, 1, 315964800.25),
    (-5.25, -0.000001, -42.125, 18, -1.5e-9),
    (0.0, -0.0, 0.0, 7, -0.0),
    (2147.483647, -2147.483647, 1.23456789, 255, 1e9),
    (12.3456785, 0.0000005, -0.0000005, 0, 86399.999999),
    (-12.3456785, -0.0000015, 99.9999995, 31,
      java.lang.Double.longBitsToDouble(0x7ff8000000000123L)),
    (63.999999, 63.999999, 129.999999, 2, Double.MinPositiveValue))

  private def cloud12(n: Int): Array[T] = Array.tabulate(n) { i =>
    val k = graft.rng.Rand.mixLong(i.toLong, 19L)
    (-300.0 + (k % 600000) / 1000.0, ((k / 7) % 400000) / 3000.0 - 50.0,
      ((k / 11) % 90000) / 777.0 - 20.0, (k % 6).toInt,
      3e5 + i * 0.000125 + (if (k % 9 == 0) 4.0 else 0.0))
  }

  private val sets12: Seq[Array[T]] =
    Seq(Array.empty[T], edge12.take(1), edge12, cloud12(240))

  private val edge14: Array[Las.P6] = Array(
    Las.P6(1000.125, -2000.5, 150.000001, 0, 1, 1, 0, 2, 0, 0, 315964800.0),
    Las.P6(-0.0, 0.0, -0.0, 65535, 3, 5, 3, 255, -30000, 65535, -0.0),
    Las.P6(-5.25, -0.000001, -42.125, 777, 2, 2, 1, 64, 15000, 42, -1.5e-9),
    Las.P6(0.0, -0.0, 0.0, 1, 15, 15, 2, 18, 32767, 1, 1.0e9 + 0.000001),
    Las.P6(2147.483647, -2147.483647, 1.23456789, 9, 7, 9, 1, 0, -32768, 4,
      86399.999999),
    Las.P6(12.3456785, 0.0000005, -0.0000005, 0, 1, 3, 0, 7, -100, 7, 2.5),
    Las.P6(-12.3456785, -0.0000015, 99.9999995, 3, 2, 3, 2, 5, 10, 0, 2.5),
    Las.P6(63.999999, 63.999999, 129.999999, 12, 3, 3, 3, 1, 1, 2,
      Double.MinPositiveValue))

  private def cloud14(n: Int): Array[Las.P6] = Array.tabulate(n) { i =>
    val k = graft.rng.Rand.mixLong(i.toLong, 23L)
    val nRet = 1 + (k % 5).toInt
    Las.P6(-300.0 + (k % 600000) / 1000.0, ((k / 7) % 400000) / 3000.0 - 50.0,
      ((k / 11) % 90000) / 777.0 - 20.0, (k % 60000).toInt,
      1 + ((k / 13) % nRet).toInt, nRet, ((k / 17) % 4).toInt,
      (k % 256).toInt, ((k / 19) % 2000).toInt - 1000, (k % 100).toInt,
      3e5 + i * 0.000125)
  }

  private val sets14: Seq[Array[Las.P6]] =
    Seq(Array.empty[Las.P6], edge14.take(1), edge14, cloud14(240))

  // 240 points: chunk 60 divides the count, 7 does not, 1 makes every
  // chunk a lone raw point, the default makes one chunk
  private val chunks = Seq(1, 7, 60, Laz.DefaultChunkSize)

  private def untimed(s: Array[T]) = s.map(p => (p._1, p._2, p._3, p._4))

  private val evlrs = Seq(
    ("graft", 42, Array.tabulate[Byte](100)(i => (i * 7).toByte)),
    ("LASF_Spec", 4, Array.empty[Byte]),
    ("sixteen_chars_id", 65535, Array[Byte](1, 2, 3)))

  /** The files the LasSource sink writes for four partitions: partition
    * 0 and 2 as LAS 1.2 fmt 1, 1 and 3 as LAS 1.4 fmt 6, the last two
    * empty. Each partition's rows arrive in the order given. */
  private def sinkFiles(): Seq[Array[Byte]] = {
    import spark.implicits._
    val parts = Seq(edge12.toSeq ++ cloud12(60), cloud12(50).toSeq ++ edge12,
      Seq.empty[T], Seq.empty[T])
    val dir = java.nio.file.Files.createTempDirectory("las_pin_sink").toFile
    spark.sparkContext.parallelize(parts, parts.length).flatMap(identity)
      .toDF("x", "y", "z", "classification", "gps_time")
      .write.format("graft.sources.LasSource").mode("append")
      .save(dir.getAbsolutePath)
    val files = dir.listFiles().filter(_.getName.endsWith(".las")).sortBy(_.getName)
    assert(files.map(_.getName).toSeq ==
      (0 until 4).map(i => f"part_$i%05d.las"))
    files.toSeq.map(f => java.nio.file.Files.readAllBytes(f.toPath))
  }

  test("every LAS/LAZ writer's output bytes are pinned over a fixed matrix") {
    val got = Seq(
      "Las.encode" -> pinDigest(sets12.map(s => Las.encode(untimed(s)))),
      "Las.encodeTimed" -> pinDigest(sets12.map(Las.encodeTimed)),
      "Las.encode14" -> pinDigest(sets14.map(Las.encode14(_))),
      "Las.encode14/evlrs" -> pinDigest(sets14.map(Las.encode14(_, evlrs))),
      "Laz.encode" -> pinDigest(
        for (s <- sets12; c <- chunks) yield Laz.encode(untimed(s), c)),
      "Laz.encodeTimed" -> pinDigest(
        for (s <- sets12; c <- chunks) yield Laz.encodeTimed(s, c)),
      "Laz14.encode" -> pinDigest(
        for (s <- sets14; c <- chunks) yield Laz14.encode(s, c)),
      "LasSource sink" -> pinDigest(sinkFiles()))
    val want = Seq(
      "Las.encode" ->
        "dc426bf28b2fddd1221cd5982f398b62c4b92a9aaa7658faedf26027bd2aa8d0",
      "Las.encodeTimed" ->
        "2d931abac0c8f7e2630f2d048b036d8d404454208943c5efdc423ffde2551e4e",
      "Las.encode14" ->
        "35fd8408c6e891457c661d81b99370aa27b05ab5558bb2a59f2240884dac1545",
      "Las.encode14/evlrs" ->
        "b3defdbf2d1e3a5f73d8e571f423bf685d9b3879521edf7d326b935280f0ce05",
      "Laz.encode" ->
        "5bac415ed433829bcc461584c8f496bea9bad906585d4c3fa319b09703825c9d",
      "Laz.encodeTimed" ->
        "ddcda706522cfd33ad05a98055978c29d193608463c9c430ada531534896ea2a",
      "Laz14.encode" ->
        "60276d6aad366a358ccc54abd6a404e2d54b37376bad0f94773c6eb95aacc8bf",
      "LasSource sink" ->
        "dbd0905a79347248f775e6d64ff4b40119608817d845d420ca2033dfab8578de")
    val diff = got.zip(want).collect { case ((n, g), (_, w)) if g != w => s"$n -> $g" }
    assert(got.map(_._1) == want.map(_._1))
    if (diff.nonEmpty) fail(diff.mkString("writer bytes moved:\n", "\n", ""))
  }

  /** Reads `bytes` as the only file of a connector scan and returns the
    * root cause of the failure. */
  private def connectorRejects(name: String, bytes: Array[Byte]): Throwable = {
    val dir = java.nio.file.Files.createTempDirectory("las_reject").toFile
    java.nio.file.Files.write(new java.io.File(dir, name).toPath, bytes)
    val e = intercept[Exception] {
      spark.read.format("graft.sources.LasSource").load(dir.getAbsolutePath)
        .collect()
    }
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
  }

  test("the connector rejects a .las whose signature is not LASF") {
    val bytes = Las.encodeTimed(edge12)
    bytes(3) = 'X'
    val root = connectorRejects("a.las", bytes)
    assert(root.isInstanceOf[IllegalArgumentException], root.toString)
    assert(root.getMessage.contains("not a LAS file"), root.getMessage)
    intercept[IllegalArgumentException](Las.decodeTimed(bytes))
  }

  test("the connector rejects a LAS 1.4 data offset inside the 375-byte header") {
    val bytes = Las.encode14(edge14)
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(96, 227)
    val root = connectorRejects("a.las", bytes)
    assert(root.isInstanceOf[IllegalArgumentException], root.toString)
    assert(root.getMessage.contains("point data offset 227"), root.getMessage)
    intercept[IllegalArgumentException](Las.decode14(bytes))
  }
}
