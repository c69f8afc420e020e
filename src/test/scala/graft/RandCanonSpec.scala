package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.Canon
import graft.rng.{CounterMix, Rand}

class RandCanonSpec extends SparkSuite {
  import spark.implicits._

  /** `Rand.mix` as it was spelled before the native kernel — plain Column
    * arithmetic. Every seeded output and manifest hash was produced by
    * this formula, so the native node must reproduce it bit for bit. */
  private def columnMix(key: Column, salt: Long): Column = {
    val M = Rand.M
    val saltC = (12345L + salt * 2654435761L) % M
    val h1 = (key % M * lit(1103515245L) + lit(saltC)) % M
    val h1x = h1.bitwiseXOR((h1 / 8192L).cast("long"))
    val h2 = (h1x * lit(69069L) + lit(362437L)) % M
    val h2x = h2.bitwiseXOR((h2 / 131072L).cast("long"))
    val h3 = (h2x * lit(48271L) + lit(11L)) % M
    h3.bitwiseXOR((h3 / 32768L).cast("long"))
  }

  private val salts = Seq(0L, 1L, 7L, 100L, 7777L, 123456789L, 1L << 29)

  test("native mix equals mixLong and the Column formula on int, long and ~2^52 keys") {
    val n = 100000L
    val keys = spark.range(n).select(
      col("id").cast("int").as("ik"),
      (col("id") * 2654435761L + 977L).as("lk"),
      (lit((1L << 52) - 1) - col("id") * 3).as("bk")).cache()
    try salts.foreach { salt =>
      Seq("ik", "lk", "bk").foreach { k =>
        val mismatches = keys
          .filter(Rand.mix(col(k), salt) =!= columnMix(col(k), salt)).count()
        assert(mismatches == 0, s"salt $salt, key $k: $mismatches mismatches")
        val got = keys.select(col(k).cast("long"), Rand.mix(col(k), salt))
          .as[(Long, Long)].collect()
        assert(got.length == n)
        got.foreach { case (key, h) =>
          assert(h == Rand.mixLong(key, salt), s"salt $salt, key $key") }
      }
    } finally keys.unpersist()
  }

  test("CounterMix: interpreted eval equals codegen; a null key gives null") {
    val keys = Seq(0L, 1L, 2L, 8191L, 8192L, 123456789L, Int.MaxValue.toLong,
      (1L << 31) + 5, (1L << 40) + 3, (1L << 52) - 1)
    salts.foreach { salt =>
      val e = CounterMix(BoundReference(0, LongType, nullable = true), salt)
      val gen = GenerateUnsafeProjection.generate(Seq(e))
      keys.foreach { k =>
        val row = InternalRow(k)
        assert(e.eval(row) == Rand.mixLong(k, salt))
        assert(gen(row).getLong(0) == Rand.mixLong(k, salt), s"salt $salt, key $k")
      }
      assert(e.eval(InternalRow(null)) == null)
      assert(gen(InternalRow(null)).isNullAt(0))
    }
    val nulls = Seq[Option[Long]](None, Some(3L)).toDF("k")
      .select(Rand.mix(col("k"), 5).as("h")).as[Option[Long]].collect()
    assert(nulls.toSeq == Seq(None, Some(Rand.mixLong(3L, 5))))
  }

  test("golden u01 and gaussian values are pinned") {
    // captured from the Column-formula RNG; every seeded output and
    // manifest hash in the engine depends on this stream
    val golden = Seq(
      (0L, 0L, 0.42906017741188407, -0.5830665486014247),
      (1L, 1L, 0.8027089405804873, -0.4324933917415492),
      (12345L, 7L, 0.6084186532534659, -0.7866016619335546),
      (987654321L, 42L, 0.8851969433017075, 0.4938516808450289),
      ((1L << 52) - 3, 100L, 0.8128417446278036, -0.0047930752746382565),
      (77L, 123456789L, 0.984256302472204, -0.04679145603758554),
      (4096L, 1L << 29, 0.6940590068697929, -0.3065493664569234))
    golden.foreach { case (k, salt, u, g) =>
      val r = Seq(k).toDF("k")
        .select(Rand.u01(col("k"), salt), Rand.gaussian(col("k"), salt)).head()
      assert(r.getDouble(0) == u, s"u01($k, $salt)")
      assert(r.getDouble(1) == g, s"gaussian($k, $salt)")
    }
  }

  test("mix column and mixLong scalar agree") {
    val keys = Seq(0L, 1L, 17L, 123456789L, (1L << 40) + 3)
    val fromCol = keys.toDF("k")
      .select(Rand.mix(col("k"), 7).as("h")).as[Long].collect()
    val fromScalar = keys.map(Rand.mixLong(_, 7))
    assert(fromCol.toSeq == fromScalar)
  }

  test("mix stays in [0, 2^31) and u01 in [0,1)") {
    val hs = spark.range(10000)
      .select(Rand.mix(col("id"), 3).as("h"), Rand.u01(col("id"), 3).as("u"))
      .agg(min("h"), max("h"), min("u"), max("u"))
      .head()
    assert(hs.getLong(0) >= 0 && hs.getLong(1) < Rand.M)
    assert(hs.getDouble(2) >= 0.0 && hs.getDouble(3) < 1.0)
  }

  test("u01 is roughly uniform") {
    val m = spark.range(50000).select(Rand.u01(col("id"), 11).as("u"))
      .agg(avg("u")).head().getDouble(0)
    assert(math.abs(m - 0.5) < 0.01, s"mean $m")
  }

  test("gaussian draws have ~N(0,1) moments") {
    val r = spark.range(50000).select(Rand.gaussian(col("id"), 5).as("z"))
      .agg(avg("z"), stddev_pop(col("z"))).head()
    assert(math.abs(r.getDouble(0)) < 0.02)
    assert(math.abs(r.getDouble(1) - 1.0) < 0.02)
  }

  test("fixSqlRounds rewrites simple and nested rounds") {
    assert(Canon.fixSqlRounds("round(x, 2)") ==
      "(floor((x) * 100.0 + 0.5) / 100.0)")
    val nested = Canon.fixSqlRounds("round(avg(round(v, 6)), 2) AS a")
    assert(!nested.contains("round("))
    assert(nested ==
      "(floor((avg((floor((v) * 1000000.0 + 0.5) / 1000000.0))) * 100.0 + 0.5) / 100.0) AS a")
    // identifiers merely ending in "round(" are not rewritten
    assert(Canon.fixSqlRounds("ground(x, 2)") == "ground(x, 2)")
  }

  test("canonical round matches plain decimal expectations") {
    val r = Seq(1.2345649, 1.2345651, -2.5000004)
      .toDF("x").select(Canon.round(col("x"), 6).as("r")).as[Double].collect()
    assert(r(0) == 1.234565 && r(1) == 1.234565)
    assert(r(2) == -2.5)
  }
}
