package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Guard against copied code in the engine: no normalized window of
  * [[window]] lines may occur twice in `src/main/scala`. A copied
  * stage or algorithm is a place where one fix has to be made twice
  * (a `try_divide` that reached one EMA kernel and not its three
  * twins); the cure is one def that every caller uses.
  *
  * Normalization drops blank lines, comment lines and `/* … */`
  * blocks, strips trailing `//` comments and collapses whitespace, so
  * re-indenting or re-commenting a copy does not hide it.
  * OracleSql.scala is excluded: it is the DuckDB oracle's SQL text,
  * whose statements deliberately restate shared fragments per query. */
class CopyLintSpec extends AnyFunSuite {

  private val window = 6

  /** Normalized windows that may repeat: deliberate twins, such as a
    * streaming builder and the batch shadow a spec compares it with,
    * each entry naming that spec. There are none at present — the
    * interval joins and the state processors are one def each. */
  private val allowed: Set[String] = Set.empty

  /** (line number, normalized text) of each code line of `lines`. */
  private def codeLines(lines: Seq[String]): Seq[(Int, String)] = {
    var inBlock = false
    lines.zipWithIndex.flatMap { case (raw, i) =>
      val t = raw.trim
      if (inBlock) {
        if (t.contains("*/")) inBlock = false
        None
      } else if (t.startsWith("/*")) {
        inBlock = !t.contains("*/")
        None
      } else if (t.isEmpty || t.startsWith("//")) None
      else Some((i + 1,
        t.replaceAll("""\s+//.*$""", "").replaceAll("""\s+""", " ")))
    }
  }

  /** Each window that occurs more than once across `files` (name →
    * lines), with every place it starts, as "file:line". */
  private def copies(files: Seq[(String, Seq[String])])
      : Seq[(String, Seq[String])] = {
    val starts = files.flatMap { case (name, lines) =>
      codeLines(lines).sliding(window).filter(_.size == window).map { w =>
        w.map(_._2).mkString("\n") -> s"$name:${w.head._1}"
      }
    }
    starts.groupBy(_._1).toSeq
      .collect { case (text, at) if at.size > 1 && !allowed(text) =>
        text -> at.map(_._2) }
      .sortBy(_._2.head)
  }

  private def sources: Seq[(String, Seq[String])] = {
    val root = Paths.get(GraftSession.root, "src", "main", "scala")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "OracleSql.scala")
      .toSeq
    files.map((p: Path) => root.relativize(p).toString ->
      Files.readAllLines(p).asScala.toSeq).sortBy(_._1)
  }

  test("the lint finds a re-indented, re-commented copy and nothing else") {
    val stage = Seq("val a = x", ".filter(p)", ".groupBy(k)",
      ".agg(count(lit(1)).as(\"n\"))", ".withColumn(\"r\", y / n)",
      ".select(k, r)")
    val copy = Seq("  // the same stage, pasted") ++
      stage.map("      " + _ + "  // re-commented") ++ Seq("", "  }")
    val other = stage.updated(3, ".agg(sum(v).as(\"n\"))")
    assert(copies(Seq("A.scala" -> stage, "B.scala" -> copy))
      .map(_._2) == Seq(Seq("A.scala:1", "B.scala:2")))
    assert(copies(Seq("A.scala" -> stage, "C.scala" -> other)).isEmpty)
  }

  test(s"no normalized $window-line window occurs twice in src/main/scala") {
    val src = sources
    assert(src.size > 20, s"found only ${src.size} source files")
    val found = copies(src)
    if (found.nonEmpty)
      fail(s"${found.size} copied windows; fold each into one def:\n" +
        found.map { case (text, at) =>
          at.mkString(", ") + "\n  " + text.replace("\n", "\n  ")
        }.mkString("\n"))
  }
}
