package graft.rng

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.types.{DataType, LongType}

/** Deterministic counter-based RNG, the engine's reproducibility backbone
  * (SURVEY.md §2.7, §7.4 item 1).
  *
  * The reference threads NumPy `SeedSequence(seed).spawn(...)` child seeds
  * through every sampler (variography_uncertainty.py:512–527) so results are
  * bit-reproducible. A distributed engine cannot use `rand()` (partition-order
  * dependent); instead randomness is a *pure function of data*: a two-round
  * LCG mix of a non-negative integer key plus a salt, all in 63-bit-safe
  * integer arithmetic so the identical expression evaluates in both Spark and
  * the DuckDB oracle.
  *
  * Every builder comes in two lockstep forms: a `Column` (Spark) and a SQL
  * string (oracle). The constants live in exactly one place.
  */
object Rand {
  val M: Long = 2147483648L // 2^31 — keeps all products < 2^63

  private[rng] def saltC(salt: Long): Long = (12345L + salt * 2654435761L) % M

  /** Driver-side scalar twin of [[mix]] — same constants, same output.
    *
    * Two LCG rounds with an xor-shift between them: a pure LCG is affine
    * in its input, which makes streams with different salts exact affine
    * images of each other (catastrophic for e.g. Box–Muller, where u1 and
    * u2 must be independent). The xor with the high half breaks affinity
    * while staying exactly expressible in both Spark and DuckDB integer
    * ops (`xor`, exact power-of-two division). */
  def mixLong(key: Long, salt: Long): Long = {
    val h1 = ((key % M) * 1103515245L + saltC(salt)) % M
    val h1x = h1 ^ (h1 / 8192L)
    val h2 = (h1x * 69069L + 362437L) % M
    val h2x = h2 ^ (h2 / 131072L)
    val h3 = (h2x * 48271L + 11L) % M
    h3 ^ (h3 / 32768L)
  }

  /** Mixed hash in [0, 2^31). `key` must be non-negative and < ~2^52.
    * THREE rounds: two rounds leave measurable cross-salt correlation
    * (corr(u_salt1, u_salt2) ≈ −0.21, enough to bias Monte-Carlo pair
    * distances by 2×); the third round with interleaved xor-shifts drops
    * it below 0.004 (validated against an independent RNG in
    * EstimatorSpec's MC-vs-brute-force agreement).
    *
    * Built as one [[CounterMix]] node, not as Column arithmetic: each
    * round reads its input twice, so the Column spelling copies its
    * subtree 8× per call, and Filter (no common-subexpression
    * elimination) plus pushed-down and bbox-prefilter conjuncts copy it
    * again — hundreds of KB of generated Java per sampling stage. */
  def mix(key: Column, salt: Long): Column =
    toCol(CounterMix(toExpr(key.cast("long")), salt))

  def mixSql(key: String, salt: Long): String = {
    val h1 = s"((($key) % $M) * 1103515245 + ${saltC(salt)}) % $M"
    val h1x = s"xor(($h1), ($h1) // 8192)"
    val h2 = s"(($h1x) * 69069 + 362437) % $M"
    val h2x = s"xor(($h2), ($h2) // 131072)"
    val h3 = s"(($h2x) * 48271 + 11) % $M"
    s"xor(($h3), ($h3) // 32768)"
  }

  /** Uniform double in [0, 1). */
  def u01(key: Column, salt: Long): Column =
    mix(key, salt).cast("double") / lit(M.toDouble)

  def u01Sql(key: String, salt: Long): String =
    s"((${mixSql(key, salt)}) / 2147483648.0)"

  /** Standard-normal via Box–Muller on two counter uniforms.
    * u1 is nudged away from 0 so log() is finite. */
  def gaussian(key: Column, salt: Long): Column = {
    val u1 = (mix(key, salt).cast("double") + lit(1.0)) / lit(M.toDouble + 1.0)
    val u2 = u01(key, salt + 7777)
    sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
  }

  def gaussianSql(key: String, salt: Long): String = {
    val u1 = s"(((${mixSql(key, salt)}) + 1.0) / ${M.toDouble + 1.0})"
    val u2 = u01Sql(key, salt + 7777)
    s"(sqrt(-2.0 * ln($u1)) * cos(${2.0 * math.Pi} * $u2))"
  }
}

/** [[Rand.mix]] as one Catalyst expression over a `long` key. `eval` is
  * [[Rand.mixLong]] (one definition for engine and driver); `doGenCode`
  * emits the same three rounds on one local. The salt is bound through
  * the `references` array, not inlined as a literal, so plans that differ
  * only by seed generate byte-identical source and share one compiled
  * class from the codegen cache. */
case class CounterMix(child: Expression, salt: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "counter_mix"
  override def sql: String = s"$prettyName(${child.sql}, $salt)"

  override protected def nullSafeEval(key: Any): Any =
    Rand.mixLong(key.asInstanceOf[Long], salt)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("saltC", java.lang.Long.valueOf(Rand.saltC(salt)))
    val sc = ctx.addMutableState(CodeGenerator.JAVA_LONG, "saltC",
      v => s"$v = $ref.longValue();")
    val m = s"${Rand.M}L"
    nullSafeCodeGen(ctx, ev, k => {
      val h = ctx.freshName("h")
      s"""
        long $h = (($k % $m) * 1103515245L + $sc) % $m;
        $h ^= $h / 8192L;
        $h = ($h * 69069L + 362437L) % $m;
        $h ^= $h / 131072L;
        $h = ($h * 48271L + 11L) % $m;
        ${ev.value} = $h ^ ($h / 32768L);
      """
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
