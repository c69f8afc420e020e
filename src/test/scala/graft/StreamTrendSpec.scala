package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.queries.QueriesRaster
import graft.streaming.StreamTrend

/** The stateful streaming dh/dt twin must reproduce the batch
  * r_dhdt_trend output hash-exactly: epochs are fed one micro-batch at a
  * time (the DEM-delivery arrival order), each pixel's OLS sufficient
  * statistics accumulate in GroupState, and after the last epoch the
  * shared estimate derivation (QueriesRaster.dhdtEstimate) over the
  * final state equals the batch shuffle's result row-for-row — exact
  * because every stack value is a binary fraction, so the incremental
  * sums ARE the batch aggregates. */
class StreamTrendSpec extends SparkSuite {
  import spark.implicits._

  test("streamed per-pixel OLS state equals batch r_dhdt_trend after the last epoch") {
    val stack = QueriesRaster.demStack(spark, sf001)
      .select((col("col") * 128 + col("row")).cast("long").as("pix"),
        col("e"), col("y"))
      .as[StreamTrend.Obs]
      .collect()

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamTrend.Obs]
    val q = StreamTrend.sumsStateful(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("strend_test").start()
    try {
      for (epoch <- 0L to 4L) {
        val batch = stack.filter(_.e == epoch)
        if (batch.nonEmpty) { input.addData(batch.toSeq); q.processAllAvailable() }
      }
      // update-mode memory sink appends every batch's emission; the
      // FINAL state per pixel is the row with that pixel's max n
      // (n strictly grows on every emission for a given pixel)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("pix")
      val finalSums = spark.table("strend_test")
        .withColumn("maxn", max("n").over(w))
        .filter(col("n") === col("maxn"))
        .select((col("pix") / 128).cast("int").as("col"),
          (col("pix") % 128).cast("int").as("row"),
          col("n"), col("st"), col("stt"), col("sy"), col("sty"), col("syy"))

      val got = QueriesRaster.dhdtEstimate(finalSums)
        .orderBy("col", "row").collect()
      val want = SparkEntry.queries("r_dhdt_trend")(spark, sf001)
        .orderBy("col", "row").collect()
      assert(got.length == want.length, s"${got.length} vs ${want.length}")
      got.zip(want).foreach { case (a, b) => assert(a == b, s"$a != $b") }
      assert(want.length > 1000, "the sf0.001 stack should yield >1000 pixels")
    } finally q.stop()
  }

  test("the RocksDB state store provider reproduces the same final state") {
    // the 100-TB deployment's configuration (state off-heap per shard);
    // same stack, same parity claim, exercised through RocksDB (the
    // survey-scale measurement at 10⁷ pixels is recorded in NOTES.md)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stack = QueriesRaster.demStack(spark, sf001)
        .select((col("col") * 128 + col("row")).cast("long").as("pix"),
          col("e"), col("y"))
        .as[StreamTrend.Obs]
        .collect()
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[StreamTrend.Obs]
      val q = StreamTrend.sumsStateful(input.toDS())
        .writeStream.outputMode("update")
        .format("memory").queryName("strend_rocks").start()
      try {
        for (epoch <- 0L to 4L) {
          val batch = stack.filter(_.e == epoch)
          if (batch.nonEmpty) { input.addData(batch.toSeq); q.processAllAvailable() }
        }
        val w = org.apache.spark.sql.expressions.Window.partitionBy("pix")
        val finalSums = spark.table("strend_rocks")
          .withColumn("maxn", max("n").over(w))
          .filter(col("n") === col("maxn"))
          .select((col("pix") / 128).cast("int").as("col"),
            (col("pix") % 128).cast("int").as("row"),
            col("n"), col("st"), col("stt"), col("sy"), col("sty"), col("syy"))
        val got = QueriesRaster.dhdtEstimate(finalSums)
          .orderBy("col", "row").collect()
        val want = SparkEntry.queries("r_dhdt_trend")(spark, sf001)
          .orderBy("col", "row").collect()
        assert(got.length == want.length && got.sameElements(want),
          "RocksDB-backed state must be bit-identical to the batch result")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
