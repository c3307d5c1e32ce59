package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Guard against engine code that no caller reaches: every `def`,
  * `val` and `var` declared directly in an object of `src/main/scala`
  * must be referenced by name somewhere else in `src/main/scala` or
  * `perfbench/scala`. A def only a spec calls is a second copy of a
  * policy the queries spell out again inline, and the spec then
  * certifies code that does not run; the cure is for the query to call
  * the def, or for the def to go.
  *
  * A reference is a whole-word occurrence outside comments, outside
  * the member's own definition (its declaration line up to the next
  * member of the same object), and not the name a `def`/`val`/`var`
  * declares or an `import` line names. String literals count, so the
  * field names perfbench sets by reflection are references. `override`
  * members are reached through their parent type and are skipped; an
  * `apply` is reached by any reference to its object, and the four
  * mains' `main` is the entry point. OracleSql.scala is excluded both
  * ways: it is the DuckDB oracle's SQL text. */
class ReachLintSpec extends AnyFunSuite {

  /** Members no query reaches that stay, each with its reason. */
  private val allowed: Map[String, String] = Map(
    "Streaming.dedupStream" ->
      "stream form; StreamingSpec runs it against its batch shadow",
    "Streaming.minhashClaimStream" ->
      "stream form; StreamingSpec runs it against its batch shadow",
    "Streaming.userActivityTws" ->
      "stream form; StreamingSpec runs it against its batch shadow",
    "Streaming.userActivityTwsTtl" ->
      "stream form; StreamingSpec runs it against its batch shadow",
    "Streaming.userInactivity" ->
      "stream form; StreamingSpec runs it against its batch shadow",
    "Streaming.userSeenTypes" ->
      "stream form; StreamingSpec runs it against its batch shadow",
    "Streaming.cdcApplyStream" ->
      "stream form; StreamingSpec runs it against its batch shadow",
    "Migrate.downgradeTable" ->
      "the reference's alembic downgrade; LayoutInvarianceSpec runs it",
    "Migrate.restore" ->
      "undoes downgradeTable; LayoutInvarianceSpec runs the round trip",
    "AggQueries.aggQuantileApproxRaw" ->
      "spec pin point of the self-certifying q_agg_quantile_approx",
    "GraphQueries.graphKcoreCensus" ->
      "spec pin point of the self-certifying k-core readout",
    "TextQueries.vecPcaScores" ->
      "spec pin point of the self-certifying q_vec_pca readout",
    "TextSim.hyperplanes" ->
      "driver-side reference the executor-regenerated LSH planes equal",
    "TextSim.ivfObjective" ->
      "measurement helper the IVF training specs compare against",
    "ProductQuant.reconstructionMse" ->
      "measurement helper the product-quantization specs compare against")

  private val mains = Set("Bench", "Verify", "Smoke", "Dev")

  /** `src` with every comment blanked to spaces (newlines kept, so line
    * numbers hold); with `strings`, string and character literals are
    * blanked too. Block comments nest, as in Scala. */
  private def blank(src: String, strings: Boolean): String = {
    val out = new StringBuilder(src.length)
    def put(from: Int, until: Int, keep: Boolean): Unit =
      (from until until).foreach { j =>
        val c = src(j)
        out.append(if (keep || c == '\n') c else ' ')
      }
    var i = 0
    val n = src.length
    while (i < n) {
      if (src.startsWith("//", i)) {
        val end = src.indexOf('\n', i)
        val stop = if (end < 0) n else end
        put(i, stop, keep = false); i = stop
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        var j = i
        while (j < n && (depth > 0 || j == i)) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        put(i, j, keep = false); i = j
      } else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        var stop = if (end < 0) n else end + 3
        while (stop < n && src(stop) == '"') stop += 1
        put(i, stop, keep = !strings); i = stop
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        val stop = math.min(j + 1, n)
        put(i, stop, keep = !strings); i = stop
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        put(i, i + 3, keep = !strings); i += 3
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\' &&
          src(i + 3) == '\'') {
        put(i, i + 4, keep = !strings); i += 4
      } else { put(i, i + 1, keep = true); i += 1 }
    }
    out.toString
  }

  private val mods =
    """(?:(?:private|protected)(?:\[[\w.]+\])?\s+|final\s+|lazy\s+|""" +
      """implicit\s+|sealed\s+|abstract\s+|case\s+|@[\w.]+\s+)*"""
  // `override` is not among the modifiers, so overrides never match
  private val MemberDecl = ("""^\s*""" + mods +
    """(?:def|val|var)\s+([A-Za-z_][A-Za-z0-9_]*)""").r.unanchored
  private val TemplateDecl = ("""^\s*""" + mods +
    """(object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)""").r.unanchored
  private val AnyDecl = ("""^\s*(?:override\s+)?""" + mods +
    """(?:def|val|var|type|object|class|trait)\b""").r.unanchored
  private val Word = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val Declared =
    """\b(?:def|val|var)\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  /** One object member: "Outer.Inner.name", its simple name, its
    * object's simple name, the file and the lines [from, until) of its
    * definition. */
  private case class Member(key: String, name: String, obj: String,
                            file: String, from: Int, until: Int)

  /** A brace-delimited body: the path of the object it belongs to (None
    * for any other body), its brace depth and the first lines of the
    * declarations directly in it. */
  private class Body(val path: Option[String], val depth: Int) {
    val decls = mutable.ArrayBuffer.empty[Int]
  }

  /** The members declared directly in the objects of one file. */
  private def members(file: String, src: String): Seq[Member] = {
    val shape = blank(src, strings = true).split("\n", -1)
    val stack = mutable.Stack.empty[Body]
    val found = mutable.ArrayBuffer.empty[(Body, String, Int)]
    val ends = mutable.Map.empty[(Body, Int), Int]
    def close(b: Body, at: Int): Unit =
      (b.decls :+ at).sliding(2).foreach { w =>
        if (w.size == 2) ends((b, w(0))) = w(1)
      }
    var depth = 0
    shape.zipWithIndex.foreach { case (line, i) =>
      stack.headOption.filter(_.depth == depth).foreach { b =>
        if (AnyDecl.matches(line)) b.decls += i
        (line, b.path) match {
          case (MemberDecl(name), Some(path)) =>
            found += ((b, s"$path.$name", i))
          case _ =>
        }
      }
      // the first brace of an object declaration opens its body
      var template: Option[Option[String]] = line match {
        case TemplateDecl(kind, name) =>
          val outer = stack.headOption.flatMap(_.path)
          Some(Option.when(kind == "object")(outer.fold(name)(_ + "." + name)))
        case _ => None
      }
      line.foreach {
        case '{' =>
          depth += 1
          stack.push(new Body(template.flatten, depth))
          template = None
        case '}' =>
          while (stack.nonEmpty && stack.top.depth >= depth)
            close(stack.pop(), i)
          depth -= 1
        case _ =>
      }
    }
    while (stack.nonEmpty) close(stack.pop(), shape.length)
    found.toSeq.map { case (b, key, i) =>
      val path = key.split('.')
      Member(key, path.last, path(path.length - 2), file, i,
        ends.getOrElse((b, i), shape.length))
    }
  }

  /** The members of `files` (name → source) that nothing references. */
  private def unreached(files: Seq[(String, String)],
                        extra: Seq[(String, String)] = Nil): Seq[Member] = {
    val all = files.flatMap { case (f, src) => members(f, src) }
    // word → places (file, line) it is referenced
    val refs = mutable.Map.empty[String, mutable.ArrayBuffer[(String, Int)]]
    (files ++ extra).foreach { case (f, src) =>
      val code = blank(src, strings = false).split("\n", -1)
      val shape = blank(src, strings = true).split("\n", -1)
      code.zipWithIndex.foreach { case (line, i) =>
        if (!shape(i).trim.startsWith("import ")) {
          val declared = Declared.findAllMatchIn(shape(i))
            .map(_.start(1)).toSet
          Word.findAllMatchIn(line).foreach { m =>
            if (!declared(m.start))
              refs.getOrElseUpdate(m.matched, mutable.ArrayBuffer.empty) +=
                ((f, i))
          }
        }
      }
    }
    all.filterNot { m =>
      val word = if (m.name == "apply") m.obj else m.name
      (m.name == "main" && mains(m.obj)) ||
      refs.getOrElse(word, Nil).exists { case (f, i) =>
        f != m.file || i < m.from || i >= m.until
      }
    }
  }

  /** (path from the checkout root, source) of each Scala file under
    * `dir`, OracleSql.scala aside. */
  private def sources(dir: String*): Seq[(String, String)] = {
    val root = Paths.get(GraftSession.root)
    Files.walk(root.resolve(Paths.get(dir.head, dir.tail: _*)))
      .iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "OracleSql.scala")
      .toSeq
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
      .sortBy(_._1)
  }

  test("the lint names an uncalled def and nothing else") {
    val a = """package x
      |/** `helper` is documented here; unused() is not a call. */
      |object A {
      |  def used(n: Int): Int = helper(n) + 1 // not unused()
      |  private def helper(n: Int): Int =
      |    if (n > 0) helper(n - 1) else 0
      |  def unused(n: Int): Int = used(n)
      |  val field = "x"
      |  override def toString: String = "A"
      |  class Inner { def method(): Unit = () }
      |  object Nested { def deep(): Int = 1 }
      |}
      |""".stripMargin
    val b = """object B {
      |  def main(args: Array[String]): Unit =
      |    println(A.used(1) + A.Nested.deep())
      |  val reflected = Seq("field")
      |}
      |""".stripMargin
    val got = unreached(Seq("A.scala" -> a, "B.scala" -> b))
    assert(got.map(_.key) == Seq("A.unused", "B.main", "B.reflected"))
    assert(got.head.file == "A.scala" && got.head.from == 6)
  }

  test("every object member in src/main/scala has a caller") {
    val src = sources("src", "main", "scala")
    assert(src.size > 20, s"found only ${src.size} source files")
    val gone = unreached(src, sources("perfbench", "scala"))
    val found = gone.filterNot(m => allowed.contains(m.key))
    if (found.nonEmpty)
      fail(s"${found.size} members no query, main or perfbench " +
        "reaches; call each from the code that computes the same " +
        "thing, or delete it with the specs that test only it:\n" +
        found.map(m => s"  ${m.key} (${m.file}:${m.from + 1})")
          .mkString("\n"))
    val stale = allowed.keySet -- gone.map(_.key)
    assert(stale.isEmpty, s"allowlist entries that are reached or gone: " +
      stale.toSeq.sorted.mkString(", "))
    assert(allowed.values.forall(_.nonEmpty))
  }
}
