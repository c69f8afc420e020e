package graft
import org.apache.spark.sql.SparkSession

/** Ad-hoc dev runner: `runMain graft.Dev <queryName> [sfDir]` shows the
  * query result (full exceptions propagate). */
object Dev {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Sessions.local("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // one dispatch for both paths: "entry" is not a key in `queries`
    def build() = if (name == "entry") SparkEntry.entry(spark)
                  else SparkEntry.queries(name)(spark, dir)
    val df = build()
    if (args.contains("--explain")) df.explain("formatted")
    if (args.contains("--time") || args.contains("--time-cold")) {
      // warmup pass, then min of 2 noop-sink runs. --time-cold
      // additionally releases all registry caches before every run, so
      // the query pays its own shared materializations; --time
      // (cache-warm) can read 5× faster than --time-cold
      val cold = args.contains("--time-cold")
      def once(): Double = {
        if (cold) graft.functions.CacheRegistry.releaseAll()
        val t0 = System.nanoTime()
        build().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val t1 = once(); val t2 = once(); val t3 = once()
      val kind = if (cold) "cache-cold" else "warm"
      println(f"TIME $name ${math.min(t2, t3)}%.3f sec (min of 2, $kind; runs: $t1%.3f $t2%.3f $t3%.3f)")
    } else df.show(50, false)
    spark.stop()
  }
}
