package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine's runnable entry points are a fixed inventory: `Verify`
  * (correctness dump for the DuckDB gate), `Dev` (single-query debug and
  * timing), `ScaleGen` (scaled fixtures) and `FloatMeanAudit` (the float
  * aggregate audit behind `FloatMeanAuditSpec`). Measurement lives in
  * `perfbench/`, so a new main needs a reason to exist and an entry here. */
class EntryPointsSpec extends AnyFunSuite {

  private val kept = Set("Verify", "Dev", "ScaleGen", "FloatMeanAudit")

  test("src/main/scala holds no main outside the kept entry points") {
    // the top-level object a main sits in (nested ones are not entry points)
    val obj = """(?m)^object\s+(\w+)""".r
    val entry = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val mains = for {
      f <- SourceScan.files
      code = SourceScan.code(f)
      m <- entry.findAllMatchIn(code)
      owner = obj.findAllMatchIn(code.take(m.end)).toSeq.lastOption.fold("?")(_.group(1))
    } yield (owner, s"${SourceScan.relative(f)}:${code.take(m.start).count(_ == '\n') + 1}")
    val extra = mains.filterNot(m => kept(m._1))
    assert(extra.isEmpty, s"mains outside ${kept.mkString(", ")}: ${extra.mkString(", ")}")
    assert(kept.subsetOf(mains.map(_._1).toSet), s"kept entry points not found: $mains")
  }
}
