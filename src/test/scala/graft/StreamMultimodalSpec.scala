package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.streaming.StreamOps

class StreamMultimodalSpec extends SparkSuite {

  test("streaming hourly agg equals batch hourly agg") {
    val batch = StreamOps.hourlyAgg(Tables.events(spark, sf001))
      .orderBy("hour_start", "event_type").collect()
    // FileStreamSource wants a directory; stage the single file into one
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toFile
    dir.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(dir.getAbsolutePath, "events.parquet"))
    val q = StreamOps.hourlyAggStream(spark, dir.getAbsolutePath)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_test").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly_test")
        .orderBy("hour_start", "event_type").collect()
      assert(streamed.length == batch.length,
        s"rows ${streamed.length} vs ${batch.length}")
      streamed.zip(batch).foreach { case (a, b) => assert(a == b, s"$a != $b") }
    } finally q.stop()
  }

  test("streaming sessionization equals batch session_window") {
    val batch = StreamOps.sessionize(Tables.events(spark, sf001))
      .orderBy("user_id", "session_start").collect()
    val dir = java.nio.file.Files.createTempDirectory("graft-sess").toFile
    dir.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(dir.getAbsolutePath, "events.parquet"))
    val schema = Tables.read(spark, dir.getAbsolutePath).schema
    val events = Tables.normTs(
      spark.readStream.schema(schema).parquet(dir.getAbsolutePath))
    val q = StreamOps.sessionize(events.withWatermark("ts", "1 hour"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_test").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_test")
        .orderBy("user_id", "session_start").collect()
      assert(streamed.length == batch.length)
      streamed.zip(batch).foreach { case (a, b) => assert(a == b, s"$a != $b") }
    } finally q.stop()
  }

  test("streaming dedup-then-count equals batch COUNT(DISTINCT) per hour") {
    // COUNT(DISTINCT) is not incremental; the streaming form is
    // dropDuplicates((user_id, hour)) → count per hour. Proves the twin
    // computes the batch answer.
    val batch = StreamOps.hourlyUsers(Tables.events(spark, sf001))
      .select("hour_start", "n_users").orderBy("hour_start").collect()
    val dir = java.nio.file.Files.createTempDirectory("graft-husers").toFile
    dir.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(dir.getAbsolutePath, "events.parquet"))
    val schema = Tables.read(spark, dir.getAbsolutePath).schema
    val events = Tables.normTs(
      spark.readStream.schema(schema).parquet(dir.getAbsolutePath))
    val q = events.withWatermark("ts", "2 hours")
      .withColumn("hour_start", date_trunc("hour", col("ts")))
      .dropDuplicates("user_id", "hour_start")
      .groupBy(col("hour_start"))
      .agg(count(lit(1)).as("n_users"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("husers_test").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("husers_test").orderBy("hour_start").collect()
      assert(streamed.length == batch.length,
        s"rows ${streamed.length} vs ${batch.length}")
      streamed.zip(batch).foreach { case (a, b) => assert(a == b, s"$a != $b") }
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch join") {
    // purchases joined to the same user's clicks within the following
    // hour — the canonical stream-stream interval join, state bounded by
    // the watermark + time-range condition. Must equal the batch join.
    import org.apache.spark.sql.DataFrame
    def loadStream(dir: String): DataFrame =
      Tables.normTs(spark.readStream.schema(Tables.read(spark, dir).schema).parquet(dir))
    val dir = java.nio.file.Files.createTempDirectory("graft-ssj").toFile
    dir.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(dir.getAbsolutePath, "events.parquet"))

    val batchEvents = Tables.events(spark, sf001)
    val bp = batchEvents.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val bc = batchEvents.filter(col("event_type") === "click")
      .select(col("user_id").as("u2"), col("event_id").as("c_id"), col("ts").as("c_ts"))
    val batch = bp.join(bc, col("u") === col("u2") &&
        col("c_ts") >= col("p_ts") &&
        col("c_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"))
      .select("p_id", "c_id").orderBy("p_id", "c_id").collect().toSeq

    val sp = loadStream(dir.getAbsolutePath)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("u"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val sc = loadStream(dir.getAbsolutePath)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("u2"), col("event_id").as("c_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val q = sp.join(sc, col("u") === col("u2") &&
        col("c_ts") >= col("p_ts") &&
        col("c_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"))
      .select("p_id", "c_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_test").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj_test")
        .orderBy("p_id", "c_id").collect().toSeq
      assert(streamed.length == batch.length,
        s"rows ${streamed.length} vs ${batch.length}")
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join flushes null matches on watermark") {
    // left-outer stream joins emit unmatched rows only once the watermark
    // passes their join window. A static file never advances the final
    // watermark past its own max event, so the null-matches would be held
    // back; feeding a far-future sentinel in a SECOND batch
    // (maxFilesPerTrigger=1) pushes the watermark and flushes the state.
    import org.apache.spark.sql.DataFrame
    val events = Tables.events(spark, sf001)
    val dir = java.nio.file.Files.createTempDirectory("graft-ssoj").toFile
    dir.deleteOnExit()
    // TIME-ORDERED file slices for the real data: range partitioning on ts
    // means file k+1's rows are never below the watermark advanced by file
    // k (no late drops), while the watermark really ADVANCES during the
    // stream — so state evicts progressively and the peak measures the
    // watermark horizon, not the whole stream. (A single file would put
    // every row in one micro-batch and the 'peak' would trivially be the
    // full purchase+error row count; arbitrary hash parts would make rows
    // late and get dropped.)
    events.repartitionByRange(10, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite")
      .parquet(new java.io.File(dir, "batch1").getAbsolutePath)
    // sentinel: one event 10 days after the LATEST event, in its own file
    events.orderBy(col("ts").desc).limit(1)
      .withColumn("ts", col("ts") + expr("INTERVAL 10 DAYS"))
      .withColumn("event_id", lit(-1L))
      .write.mode("overwrite")
      .parquet(new java.io.File(dir, "batch2").getAbsolutePath)
    val stage = java.nio.file.Files.createTempDirectory("graft-ssoj-in").toFile
    stage.deleteOnExit()
    // The file source replays in modification-time order; same-millisecond
    // copies tie and the replay becomes filesystem-arbitrary — a late
    // slice replayed first jumps the watermark and the rest of the stream
    // is dropped as late. Explicit strictly-increasing mtimes (part-name
    // order = ts-range order) make the replay deterministic.
    var mtimeSeq = 0
    def copyParts(sub: String, prefix: String): Unit = {
      val src = new java.io.File(dir, sub)
      src.listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).zipWithIndex
        .foreach { case (f, i) =>
          val dst = new java.io.File(stage, f"$prefix$i%03d.parquet")
          java.nio.file.Files.copy(f.toPath, dst.toPath)
          dst.setLastModified(1700000000000L + mtimeSeq * 60000L)
          mtimeSeq += 1
        }
    }
    copyParts("batch1", "a")
    copyParts("batch2", "b")

    val schema = Tables.read(spark, stage.getAbsolutePath).schema
    def side(t: String, idAs: String, tsAs: String): DataFrame = {
      val e = Tables.normTs(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(stage.getAbsolutePath))
      e.filter(col("event_type") === t && col("event_id") =!= -1L ||
          col("event_id") === -1L) // sentinel flows through both sides
        .select(col("user_id").as(s"${idAs}_u"), col("event_id").as(idAs),
          col("ts").as(tsAs))
    }
    val sp = side("purchase", "p_id", "p_ts").withWatermark("p_ts", "1 minute")
    val sc = side("error", "c_id", "c_ts").withWatermark("c_ts", "1 minute")
    val q = sp.join(sc,
        col("p_id_u") === col("c_id_u") &&
        col("c_ts") >= col("p_ts") &&
        col("c_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .select(col("p_id"), col("c_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ssoj_test").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssoj_test")
        .filter(col("p_id") =!= -1L)
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -999L else r.getLong(1)))
        .sorted.toSeq
      val bp = events.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_id_u"), col("event_id").as("p_id"),
          col("ts").as("p_ts"))
      val bc = events.filter(col("event_type") === "error")
        .select(col("user_id").as("c_id_u"), col("event_id").as("c_id"),
          col("ts").as("c_ts"))
      val batch = bp.join(bc,
          col("p_id_u") === col("c_id_u") &&
          col("c_ts") >= col("p_ts") &&
          col("c_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTES"),
          "left_outer")
        .select(col("p_id"), col("c_id"))
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -999L else r.getLong(1)))
        .sorted.toSeq
      assert(streamed.nonEmpty && streamed.count(_._2 == -999L) > 0,
        "outer null-matches must be flushed")
      assert(streamed == batch,
        s"stream ${streamed.length} rows vs batch ${batch.length}")
      // state-store resource bound (the one streaming surface that holds
      // row-level state): the 10-day sentinel advanced the watermark past
      // every real event, so the symmetric-hash join state must have
      // EVICTED them all — only the sentinel's own rows may remain. This
      // is the proof the state size tracks the watermark horizon, not the
      // stream length (at 100 TB/day the horizon is the whole bound).
      val prog = q.recentProgress.filter(_.stateOperators.nonEmpty)
      assert(prog.nonEmpty, "no state-operator progress recorded")
      val so = prog.last.stateOperators(0)
      assert(so.numRowsTotal <= 8,
        s"join state not evicted by watermark: ${so.numRowsTotal} rows remain")
      val totals = prog.map(_.stateOperators(0).numRowsTotal)
      val nEvents = events.count()
      assert(totals.max < nEvents / 10,
        s"state tracked stream length, not watermark horizon " +
          s"(peak ${totals.max} of $nEvents input rows)")
      assert(so.memoryUsedBytes > 0, "state store reports no memory usage")
    } finally q.stop()
  }

  test("multimodal decode: schema, determinism, null payload dropped") {
    val media = Multimodal.mediaFromDocuments(spark, sf001)
    val feats = Multimodal.decodeFeatures(media)
    assert(feats.schema == Multimodal.featureSchema)
    val rows = feats.orderBy("media_id").collect()
    assert(rows.length == media.count())
    val again = Multimodal.decodeFeatures(media).orderBy("media_id").collect()
    assert(rows.toSeq == again.toSeq, "decode not deterministic")
    val luma = rows.map(_.getAs[Double]("mean_luma"))
    assert(luma.forall(l => l >= 0 && l <= 255))
    assert(rows.map(_.getAs[scala.collection.Seq[Double]]("features"))
      .forall(_.length == 8))
    // null payload → dropped
    import org.apache.spark.sql.Row
    val withNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "image", Array[Byte](1, 2, 3), "s"),
        Row(2L, "image", null, "s"))),
      Multimodal.mediaSchema)
    assert(Multimodal.decodeFeatures(withNull).count() == 1)
  }

  test("BMP and WAV containers round-trip their header fields") {
    // BMP: dims parse back for padded and unpadded row widths
    for ((w, h) <- Seq((16, 16), (17, 23), (63, 1), (1, 63))) {
      val bmp = Multimodal.encodeBmp24(w, h, seed = w * 1000L + h)
      assert(Multimodal.bmpDims(bmp) == (w, h), s"dims $w x $h")
      val rowBytes = (3 * w + 3) / 4 * 4
      assert(bmp.length == 54 + rowBytes * h, s"size $w x $h")
    }
    // WAV: rate/samples/duration parse back through the chunk walk
    val samples = Array.tabulate(12345)(i => (i * 31).toShort)
    val wav = Multimodal.encodeWavPcm16(8000, samples)
    val (rate, n, ms) = Multimodal.wavInfo(wav)
    assert(rate == 8000 && n == 12345L)
    assert(ms == 12345L * 2 * 1000 / 16000)
    // AVI: header fields and the closed-form size round-trip exactly
    val avi = Multimodal.encodeAvi(33, 21, 5, 99L)
    val (aw, ah, af, ams) = Multimodal.aviInfo(avi)
    assert((aw, ah, af) == ((33, 21, 5L)))
    assert(ams == 40000L * 5 / 1000)
    assert(avi.length == 224 + 5 * (8 + (3 * 33 + 3) / 4 * 4 * 21))
    // junk is rejected, not misparsed
    intercept[IllegalArgumentException] { Multimodal.bmpDims("junk".getBytes) }
    intercept[IllegalArgumentException] { Multimodal.wavInfo(wav.take(20)) }
    intercept[IllegalArgumentException] { Multimodal.bmpDims(wav) }
    intercept[IllegalArgumentException] { Multimodal.aviInfo(wav) }
    intercept[IllegalArgumentException] { Multimodal.aviInfo(avi.take(40)) }
    // corrupt (negative) chunk lengths throw instead of looping forever
    val badWav = wav.clone(); badWav(16) = -8; badWav(17) = -1
    badWav(18) = -1; badWav(19) = -1 // fmt length = negative
    intercept[IllegalArgumentException] { Multimodal.wavInfo(badWav) }
    val badAvi = avi.clone(); badAvi(16) = -1; badAvi(17) = -1
    badAvi(18) = -1; badAvi(19) = -1 // hdrl LIST length = -1
    intercept[IllegalArgumentException] { Multimodal.aviInfo(badAvi) }
    // PCM sample payload round-trips bit-exactly, not just the header
    val back = Multimodal.wavSamples(wav)
    assert(back.length == samples.length && back.sameElements(samples))
    intercept[IllegalArgumentException] { Multimodal.wavSamples(wav.take(20)) }
    intercept[IllegalArgumentException] { Multimodal.wavSamples(badWav) }
  }

  test("MJPEG AVI composes container and JPEG codec; frames extract and decode") {
    val (w, h) = (24, 17)
    var st = 7L
    def nxt(): Long = { st = st * 6364136223846793005L + 1442695040888963407L; st }
    val pixels = Array.fill(3)(Array.fill(h, w)(((nxt() >>> 33) & 0xff).toInt))
    val jpegs = pixels.map(px => graft.ingest.Jpeg.encodeGray(w, h, px, 90))
    val avi = Multimodal.encodeAviMjpeg(w, h, jpegs)
    // header parse sees the MJPG stream's dims and frame count
    val (aw, ah, af, ams) = Multimodal.aviInfo(avi)
    assert((aw, ah, af) == ((w, h, 3L)) && ams == 40000L * 3 / 1000)
    // container walk returns the EXACT jpeg payloads (odd lengths padded
    // in the container but not in the extracted frame)
    val frames = Multimodal.aviFrames(avi)
    assert(frames.length == 3)
    for (i <- 0 until 3) assert(frames(i).toSeq == jpegs(i).toSeq, s"frame $i")
    // each extracted frame decodes within the T.81 white-noise bound
    for ((fb, i) <- frames.zipWithIndex) {
      val (dw, dh, nc, out) = graft.ingest.Jpeg.decode(fb)
      assert(dw == w && dh == h && nc == 1, s"frame $i dims")
      val err = pixels(i).indices.map(r =>
        (0 until w).map(c => math.abs(pixels(i)(r)(c) - out(r)(c))).max).max
      assert(err <= 64, s"frame $i err $err")
    }
    // the uncompressed encoder's frames extract through the same walker
    assert(Multimodal.aviFrames(Multimodal.encodeAvi(8, 4, 2, 1L)).length == 2)
    // corrupt movi chunk length rejects by name
    intercept[IllegalArgumentException] { Multimodal.aviFrames("junk".getBytes) }
    val bad = avi.clone()
    val moviAt = avi.indexOfSlice("movi".getBytes("US-ASCII"))
    java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(moviAt + 8, Int.MaxValue) // first 00dc length
    intercept[IllegalArgumentException] { Multimodal.aviFrames(bad) }
  }

  test("AVI RIFF lists walk conformantly to their declared ends") {
    // A strict RIFF walker must be able to descend every LIST and land
    // exactly on each declared boundary: LIST ckSize includes the 4-byte
    // list-type fourcc, so children occupy [off+12, off+8+ckSize).
    val avi = Multimodal.encodeAvi(33, 21, 5, 99L)
    val b = java.nio.ByteBuffer.wrap(avi).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(avi, off, 4, "US-ASCII")
    // walks chunks in [from, to), returns the (id, listType) pairs seen and
    // asserts the walk lands exactly on `to`
    def walk(from: Int, to: Int): Seq[(String, String)] = {
      var off = from
      val seen = Seq.newBuilder[(String, String)]
      while (off < to) {
        assert(off + 8 <= to, s"chunk header would overrun at $off")
        val id = tag(off); val len = b.getInt(off + 4)
        assert(len >= 0 && off + 8 + len <= to, s"chunk $id len $len overruns")
        seen += ((id, if (id == "LIST") tag(off + 8) else ""))
        off += 8 + len + (len & 1)
      }
      assert(off == to, s"walk ended at $off, expected $to")
      seen.result()
    }
    assert(tag(0) == "RIFF" && b.getInt(4) == avi.length - 8 && tag(8) == "AVI ")
    val top = walk(12, avi.length)
    assert(top.map(_._2) == Seq("hdrl", "movi"))
    // descend hdrl: avih then LIST strl
    val hdrlOff = 12
    val hdrl = walk(hdrlOff + 12, hdrlOff + 8 + b.getInt(hdrlOff + 4))
    assert(hdrl == Seq(("avih", ""), ("LIST", "strl")))
    // descend strl to ITS declared end: strh then a full 48-byte strf
    val strlOff = hdrlOff + 12 + 8 + b.getInt(hdrlOff + 12 + 4) // after avih
    assert(tag(strlOff) == "LIST" && tag(strlOff + 8) == "strl")
    val strl = walk(strlOff + 12, strlOff + 8 + b.getInt(strlOff + 4))
    assert(strl == Seq(("strh", ""), ("strf", "")))
    // descend movi: exactly `frames` 00db chunks
    val moviOff = hdrlOff + 8 + b.getInt(hdrlOff + 4)
    assert(tag(moviOff + 8) == "movi")
    val movi = walk(moviOff + 12, moviOff + 8 + b.getInt(moviOff + 4))
    assert(movi == Seq.fill(5)(("00db", "")))
  }

  test("media table carries parseable containers per kind") {
    val media = Multimodal.mediaFromDocuments(spark, sf001)
    val meta = Multimodal.containerMeta(media).collect()
    meta.foreach { r =>
      val kind = r.getAs[String]("kind")
      val id = r.getAs[Long]("media_id")
      if (kind == "image") {
        assert(r.getAs[Int]("width") == (16 + id % 48).toInt, s"width $id")
        assert(r.getAs[Int]("height") == (16 + (id * 7) % 48).toInt, s"height $id")
      } else if (kind == "audio") {
        assert(r.getAs[Long]("duration_ms") > 0, s"duration $id")
      } else {
        assert(r.getAs[Int]("width") == (16 + id % 32).toInt, s"avi width $id")
        assert(r.getAs[Int]("height") == (16 + (id * 5) % 32).toInt, s"avi height $id")
        assert(r.getAs[Long]("duration_ms") == 40L * (1 + id % 8), s"avi dur $id")
      }
    }
  }

  test("streaming exact dedup: dropDuplicates with watermark") {
    // duplicate the event stream; streaming dedup on event_id must
    // restore the original cardinality
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup").toFile
    dir.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(dir.getAbsolutePath, "a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(dir.getAbsolutePath, "b.parquet"))
    val schema = Tables.read(spark, dir.getAbsolutePath).schema
    val events = Tables.normTs(
      spark.readStream.schema(schema).parquet(dir.getAbsolutePath))
    val q = events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy().count()
      .writeStream.outputMode("complete")
      .format("memory").queryName("dedup_test").start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_test").head().getLong(0)
      val expected = Tables.events(spark, sf001).count()
      assert(n == expected, s"deduped $n vs $expected")
    } finally q.stop()
  }

  test("HLL register state is streaming-mergeable: micro-batches hit the batch estimate exactly") {
    // a_hll_est's register build is max-per-(source, idx) — idempotent and
    // order-free, so feeding the corpus through TWO micro-batches must
    // produce the IDENTICAL registers (and therefore the bit-identical
    // estimate) as the one-pass batch query. This is the property that
    // lets the sketch run as incremental streaming state or tree-merge
    // across 1000 executors.
    import org.apache.spark.sql.functions._
    import graft.text.TextOps
    val hexv = "0123456789abcdef"
    val dir = java.nio.file.Files.createTempDirectory("graft-hll").toFile
    dir.deleteOnExit()
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(dir.getAbsolutePath)
    val raw = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.getAbsolutePath)
    def digit(p: Int) =
      (expr(s"instr('0123456789abcdef', substr(m, $p, 1))") - 1).cast("long")
    val w48 = (0 until 12).map(i =>
      digit(i + 3) * lit(1L << (4 * (11 - i)))).reduce(_ + _)
    val regs = raw
      .select(col("source"), TextOps.words(col("text")).as("ws"))
      .select(col("source"), explode(TextOps.shinglesOf(col("ws"), 3)).as("g"))
      .withColumn("m", md5(col("g")))
      .select(col("source"), ((digit(1) * 16 + digit(2)) % 64).as("idx"),
        when(w48 === 0L, lit(49))
          .otherwise(lit(49) - length(bin(w48))).as("rho"))
      .groupBy("source", "idx").agg(max("rho").as("r"))
    val q = regs.writeStream.outputMode("complete")
      .format("memory").queryName("hll_regs").start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected at least two non-empty micro-batches")
      val got = spark.table("hll_regs").collect()
        .groupBy(_.getString(0)).map { case (src, rows) =>
          val regArr = new Array[Int](64)
          rows.foreach(r => regArr(r.getLong(1).toInt) = r.getInt(2))
          val sint = regArr.map(x => 1L << (49 - x)).sum
          val vz = regArr.count(_ == 0)
          val raw0 = ((0.709 * 4096.0) * 562949953421312.0) / sint.toDouble
          val est = if (raw0 <= 160.0 && vz > 0)
            math.floor(64.0 * math.log(64.0 / vz) * 1e6 + 0.5) / 1e6
          else math.floor(raw0 * 1e6 + 0.5) / 1e6
          src -> est
        }
      val batch = graft.queries.QueriesText.queries("a_hll_est")(spark, sf001)
        .select("source", "hll_est").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got.size == batch.size)
      got.foreach { case (src, est) =>
        assert(est == batch(src),
          s"$src: streamed register estimate $est != batch ${batch(src)}")
      }
    } finally q.stop()
  }

  test("frame sample keeps every strideth media id") {
    val media = Multimodal.mediaFromDocuments(spark, sf001)
    val feats = Multimodal.decodeFeatures(media)
    val sampled = Multimodal.frameSample(feats, 5)
    assert(sampled.filter(col("media_id") % 5 =!= 0).count() == 0)
    assert(sampled.count() > 0)
  }
}
