package graft

import java.nio.file.Files

/** `graft.Dev`'s session-bound subcommands against the suite's session
  * (`cold` and `slope` stop or replace sessions, so they stay out of
  * the test JVM). */
class DevSpec extends SparkSpecBase {
  private def stdout(args: String*): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(Dev.run(spark, args))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("noop: one warm-up and one timed noop-sink run per query") {
    val lines = stdout("noop", sf0001, "q_filter_eq")
    assert(lines.size == 1 &&
      lines.head.matches("""NOOP q_filter_eq \d+\.\d{3}"""), lines)
  }

  test("plan: the formatted physical plan, to stdout or to a file") {
    val text = stdout("plan", sf0001, "q_filter_eq").mkString("\n")
    assert(text.contains("== Physical Plan ==") &&
      text.contains("PushedFilters"), text)
    val dir = Files.createTempDirectory("graft_devplan")
    assert(stdout("plan", "--to", dir.toString, "t", sf0001, "q_filter_eq")
      == Seq("wrote q_filter_eq_t.txt"))
    // the same plan, up to expression and plan ids
    def shape(p: String) = p.trim.replaceAll("(#|plan_id=)\\d+", "")
    assert(shape(Files.readString(dir.resolve("q_filter_eq_t.txt"))) ==
      shape(text))
  }

  test("plan: lists the arithmetic that runs outside the session's mode") {
    // try_divide prints as `/` in the plan itself; the trailing lines
    // carry the TRY mode, and a plan without such arithmetic has none
    val des = stdout("plan", sf0001, "q_ts_des")
    val i = des.indexWhere(_.startsWith("Eval modes other than ANSI"))
    assert(i >= 0 && des.drop(i + 1).exists(_.matches("""TRY \(.* / .*\)""")),
      des.mkString("\n"))
    assert(!stdout("plan", sf0001, "q_filter_eq").exists(
      _.startsWith("Eval modes")))
  }

  test("jobs: one line per job of a warm run, then the total") {
    val lines = stdout("jobs", sf0001, "q_filter_eq")
    val Total = """JOBTOTAL (\d+) ms over (\d+) jobs""".r
    val Total(ms, n) = lines.last
    val jobLines = lines.init
    assert(n.toInt >= 1 && jobLines.size == n.toInt, lines)
    assert(jobLines.forall(_.matches("""JOB +\d+ +\d+ ms  \d+ stages  .*""")),
      lines)
    assert(ms.toLong >= 0)
  }

  test("an unknown subcommand or a wrong argument count fails with the usage") {
    Seq(Seq("bogus"), Seq(), Seq("jobs", sf0001), Seq("cold", sf0001))
      .foreach { args =>
        val e = intercept[IllegalArgumentException](Dev.run(spark, args))
        assert(e.getMessage == Dev.usage, args)
      }
  }
}
