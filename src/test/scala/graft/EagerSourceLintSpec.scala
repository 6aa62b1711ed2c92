package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Query builders run construction-time jobs only through [[Eager]]: in the
  * operator and query modules and in [[Tables]], no code outside it calls
  * `localCheckpoint(`, `.collect()`, `.count()` or `.head()`. Comments and
  * string literals are blanked before the scan, keeping line numbers. */
class EagerSourceLintSpec extends AnyFunSuite {

  private val Banned = """localCheckpoint\s*\(|\.(collect|count|head)\s*\(\s*\)""".r

  /** `src` with comments and string/char literal contents replaced by
    * spaces; newlines stay, so offsets keep their line. */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    def blank(c: Char): Unit = out += (if (c == '\n') '\n' else ' ')
    var i     = 0
    var depth = 0 // block comments nest in Scala
    while (i < src.length) {
      val c = src(i)
      if (depth > 0) {
        if (src.startsWith("/*", i)) { depth += 1; blank(c); blank(src(i + 1)); i += 2 }
        else if (src.startsWith("*/", i)) { depth -= 1; blank(c); blank(src(i + 1)); i += 2 }
        else { blank(c); i += 1 }
      } else if (src.startsWith("/*", i)) { depth = 1; blank(c); blank(src(i + 1)); i += 2 }
      else if (src.startsWith("//", i)) { while (i < src.length && src(i) != '\n') { blank(src(i)); i += 1 } }
      else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        while (i < stop) { blank(src(i)); i += 1 }
      } else if (c == '"') {
        blank(c); i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\' && i + 1 < src.length) { blank(src(i)); i += 1 }
          blank(src(i)); i += 1
        }
        if (i < src.length) { blank(src(i)); i += 1 }
      } else if (c == '\'' && i + 2 < src.length && (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        val stop = src.indexOf('\'', i + 2) + 1
        while (i < stop) { blank(src(i)); i += 1 }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** (line, matched text) of every banned call in `src`. */
  private def violations(src: String): Seq[(Int, String)] = {
    val code = codeOnly(src)
    Banned.findAllMatchIn(code).map(m => (code.substring(0, m.start).count(_ == '\n') + 1, m.matched)).toSeq
  }

  private val root = Paths.get("src/main/scala/graft")

  private def scalaFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted

  test("outside Eager, operators, queries and Tables start no job by localCheckpoint, collect, count or head") {
    val files = scalaFiles(root.resolve("operators")) ++ scalaFiles(root.resolve("queries")) :+ root.resolve("Tables.scala")
    assert(files.size >= 15, files)
    val found = for {
      f            <- files
      (line, call) <- violations(new String(Files.readAllBytes(f), "UTF-8"))
    } yield s"$f:$line: $call"
    assert(found.isEmpty, found.mkString("construction-time jobs outside Eager:\n", "\n", ""))
  }

  test("the scan sees calls in code and none in comments or strings") {
    val src =
      """val a = df.count()
        |// df.count()
        |/* df.collect() /* nested */ df.head() */ val b = "x.head()"
        |val c = df
        |  .localCheckpoint()
        |val d = '"'; val e = df.collect ( )""".stripMargin
    assert(violations(src) == Seq((1, ".count()"), (5, "localCheckpoint("), (6, ".collect ( )")))
  }
}
