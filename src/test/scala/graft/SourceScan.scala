package graft

import java.io.File

/** Engine sources for the source-level gates: every `.scala` file under
  * `src/main/scala`, read with string and char literals and comments
  * blanked (line numbers kept), so a scan matches code only. */
object SourceScan {
  val root = new File("src/main/scala")

  def files: Seq[File] = {
    require(root.isDirectory, s"engine sources not found at ${root.getAbsolutePath}")
    def walk(d: File): Seq[File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) walk(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    walk(root)
  }

  private val nonCode = """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|/\*.*?\*/|//[^\n]*""".r

  def code(f: File): String =
    nonCode.replaceAllIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"),
      m => "\n" * m.matched.count(_ == '\n'))

  def relative(f: File): String = root.toPath.relativize(f.toPath).toString
}
