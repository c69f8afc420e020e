package graft

import org.apache.spark.sql.SparkSession

/** The fleet-wide SparkSession configuration, shared by the mains that
  * open a session (Verify, Dev, ScaleGen), the perfbench harness and the
  * test JVM — one place for the settings that are load-bearing for a
  * multi-hundred-plan session.
  *
  * The one setting with a story: `spark.sql.codegen.cache.maxEntries`.
  * Spark's generated-class cache defaults to 100 entries; a session
  * that plans 200+ distinct queries evicts its own codegen classes, and
  * a re-run of an evicted query pays ~10 s of janino+JIT RECOMPILATION
  * that profiles as execution time (measured on a_stats11 at sf1:
  * pass-2 14.1 s at 100 entries vs 2.2 s at 10000; sizing the cache
  * collapsed the 238-query suite from 195.9 s to 122.9 s at sf0.1 and
  * the historic ±15% run-to-run spread to ±2.5%). Any deployment of
  * this engine that keeps one session across a large query fleet needs
  * the same sizing — see ARCHITECTURE.md §"Codegen class cache".
  */
object Sessions {
  /** Base builder with the fleet configuration. `extensions` registers
    * the Catalyst rules (graft.plans.GraftExtensions); the test JVM
    * leaves them off so specs opt in per-rule. */
  def builder(master: String, shufflePartitions: String,
              extensions: Boolean = true): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.analyzer.failAmbiguousSelfJoin", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
    if (extensions) b.config("spark.sql.extensions", "graft.plans.GraftExtensions")
    else b
  }

  /** local[N] builder; N (threads AND shuffle partitions) comes from
    * SPARK_GRAFT_CPUS, else `defaultCpus`. */
  def local(defaultCpus: String,
            extensions: Boolean = true): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    builder(s"local[$cpus]", cpus, extensions = extensions)
  }
}
