package graft.ops

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lint for the staging invariant: [[Staged]] is the only code in
  * `src/main` that persists, checkpoints or frees a frame, so every pin
  * has a release path and takes its cut form from the deployment. The
  * scan reads code only: comments and string literals are blanked
  * first, so a scaladoc naming `localCheckpoint` or a streaming
  * `checkpointLocation` option does not match. */
class StagingLintSpec extends AnyFunSuite {

  private val call =
    """\.(persist|unpersist|checkpoint)\s*\(|\.cache\s*\(\s*\)|\blocalCheckpoint\b""".r

  /** `src` with every comment and string literal replaced by spaces
    * (newlines kept, so line numbers hold). */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def blank(n: Int): Unit = {
      src.substring(i, i + n).foreach(c => out += (if (c == '\n') '\n' else ' '))
      i += n
    }
    def to(end: String, from: Int): Int = {
      val j = src.indexOf(end, from)
      if (j < 0) src.length - i else j + end.length - i
    }
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        blank((if (j < 0) src.length else j) - i)
      }
      else if (src.startsWith("/*", i)) blank(to("*/", i + 2))
      else if (src.startsWith("\"\"\"", i)) blank(to("\"\"\"", i + 3))
      else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < src.length && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        blank(math.min(j + 1, src.length) - i)
      } else { out += src.charAt(i); i += 1 }
    }
    out.toString
  }

  /** `file:line: text` for every staging call in `src`. */
  private def violations(name: String, src: String): Seq[String] = {
    val code = codeOnly(src)
    call.findAllMatchIn(code).map { m =>
      val line = code.substring(0, m.start).count(_ == '\n')
      s"$name:${line + 1}: ${src.linesIterator.drop(line).next().trim}"
    }.toSeq
  }

  test("the matcher flags staging calls, not comments, strings or checkpointLocation") {
    Seq("df.persist()", "df.persist(StorageLevel.DISK_ONLY)", "df.cache()",
        "df.unpersist(blocking = true)", "df.localCheckpoint()",
        "df.localCheckpoint(eager = true)", "rdd.checkpoint()", "df .checkpoint ()")
      .foreach(c => assert(violations("t", c).nonEmpty, c))
    Seq("""w.option("checkpointLocation", dir)""", "// df.persist()",
        "/** a `localCheckpoint` leaf */", """val s = "df.cache()"""",
        "def checkpoint(dir: String) = dir", "val cacheSize = 1")
      .foreach(c => assert(violations("t", c).isEmpty, c))
  }

  test("no file in src/main other than Staged.scala persists, checkpoints or frees a frame") {
    val root = Paths.get("src/main")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Staged.scala")
      .toSeq
    assert(files.size > 50, s"expected the src/main tree under ${root.toAbsolutePath}")
    val found = files.flatMap((p: Path) =>
      violations(root.relativize(p).toString, Files.readString(p)))
    assert(found.isEmpty, found.mkString("staging outside Staged:\n", "\n", ""))
  }
}
