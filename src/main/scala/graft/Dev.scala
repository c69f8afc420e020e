package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.JobCounter

/** Ad-hoc dev runner: `runMain graft.Dev <queryName> [sfDir]` shows the
  * query result (full exceptions propagate). `--explain` prints the plan;
  * `--time` prints the warmed min-of-2 noop-sink seconds, with the Spark
  * jobs each timed run launched; `--time-cold` also releases every
  * `CacheRegistry` materialization before each run. Neither releases the
  * session's table resolutions (`Tables`): those are schemas and file
  * listings, not data, so a timed run's jobs are the query's own. */
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
      def once(): (Double, Int) = {
        if (cold) graft.functions.CacheRegistry.releaseAll()
        var s = 0.0
        val jobs = JobCounter.jobs(spark.sparkContext) {
          val t0 = System.nanoTime()
          build().write.format("noop").mode("overwrite").save()
          s = (System.nanoTime() - t0) / 1e9
        }
        (s, jobs)
      }
      val runs = Seq(once(), once(), once())
      val kind = if (cold) "cache-cold" else "warm"
      val shown = runs.map { case (s, j) => f"$s%.3f ($j jobs)" }.mkString(" ")
      println(f"TIME $name ${math.min(runs(1)._1, runs(2)._1)}%.3f sec (min of 2, $kind; runs: $shown)")
    } else df.show(50, false)
    spark.stop()
  }
}
