package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-validation data generator: replicate the driver's sf tables
  * `factor`× with per-replica KEY SHIFTS that preserve referential
  * integrity (each replica is a disjoint key universe, so joins fan out
  * exactly like real growth, never cross-replica). Document text is
  * salted with a replica token so the corpus does not degenerate into
  * `factor` exact copies (which would turn every dedup family into one
  * pathological duplicate group). Usage:
  *
  *   runMain graft.ScaleGen <srcSfDir> <dstDir> <factor>
  *
  * The output feeds Verify/Dev only (scale measurement — the round-4
  * verdict's "turn the 'survives 100×' claims into measurement");
  * correctness gates keep running on the driver's own parquet.
  */
object ScaleGen {

  private val S_ORD = 10000000L
  private val S_CUST = 1000000L
  private val S_SUPP = 1000000L
  private val S_PART = 1000000L
  private val S_EV = 10000000L
  private val S_DOC = 1000000L
  private val S_VEC = 1000000L

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleGen <srcSfDir> <dstDir> <factor>")
    val (src, dst, factor) = (args(0), args(1), args(2).toInt)
    // extensions OFF for fixture generation: output bytes must not
    // depend on the custom Catalyst rules being semantics-preserving
    // (the rules are gated by the oracle on the QUERY side, not here)
    val spark = Sessions.local("16", extensions = false).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicate(table: String, shifts: Map[String, Long],
                  saltText: Boolean = false): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      // the disjoint-replica invariant rests on stride > max(key): on a
      // larger source (sf10's o_orderkey exceeds 10M) a silent overlap
      // would merge replica key universes and corrupt every join fan-out
      shifts.foreach { case (c, stride) =>
        val mx = base.agg(max(col(c).cast("long"))).head.getLong(0)
        require(mx < stride,
          s"$table.$c max=$mx >= stride=$stride: replica keys would overlap")
      }
      val reps = (0 until factor).map { i =>
        val shifted = shifts.foldLeft(base) { case (df, (c, stride)) =>
          df.withColumn(c, col(c) + lit(stride * i))
        }
        if (saltText && i > 0)
          // suffix EVERY word with the replica id: replicas become fully
          // distinct corpora (disjoint shingle universes), so dedup/LSH
          // work grows linearly like real corpus growth. A prefix-only
          // salt left replicas ~identical and the truth pair space grew
          // QUADRATICALLY in the replication factor (measured: 126× at
          // 10× on x_lsh_recall) — that benchmarks the generator, not
          // the engine.
          shifted.withColumn("text",
            regexp_replace(col("text"), "(\\S+)", s"$$1$i"))
        else shifted
      }
      reps.reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
      ()
    }

    // dimension seeds stay single-copy (every replica shares them)
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    replicate("customer", Map("c_custkey" -> S_CUST))
    replicate("supplier", Map("s_suppkey" -> S_SUPP))
    replicate("part", Map("p_partkey" -> S_PART))
    replicate("orders", Map("o_orderkey" -> S_ORD, "o_custkey" -> S_CUST))
    replicate("lineitem", Map("l_orderkey" -> S_ORD,
      "l_partkey" -> S_PART, "l_suppkey" -> S_SUPP))
    replicate("events", Map("event_id" -> S_EV, "user_id" -> S_CUST))
    replicate("documents", Map("doc_id" -> S_DOC), saltText = true)
    replicate("embeddings", Map("vec_id" -> S_VEC))
    println(s"ScaleGen done: $src x$factor -> $dst")
    spark.stop()
  }
}
