package graft

import graft.ops.HoursParser
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Golden vectors from the reference's executable docstring spec
  * (`database/parse_and_upload_to_db.py:58-81`; corpus FIXTURES.md §3)
  * plus seeded randomized properties (SURVEY.md §5.2), batched into one
  * Spark job each; and the `parse_hours` kernel pinned to the
  * regex/higher-order-function parser it replaced. */
class HoursParserSpec extends SparkSpecBase {
  import spark.implicits._

  /** The regex/HOF parser the kernel replaced, kept verbatim as the
    * kernel's reference: the DuckDB oracles of q_udf_parse_hours and
    * q_udtf_hours_explode mirror these expressions. */
  private object RegexParser {
    private val timePattern = "(\\d{1,2}(?::\\d{2})? [AP]M)"

    def timeToSec(t: Column): Column = {
      val h = regexp_extract(t, "^(\\d{1,2})", 1).cast("int")
      val m = coalesce(
        nullif(regexp_extract(t, ":(\\d{2})", 1), lit("")), lit("0"))
        .cast("int")
      val isPm = substring_index(t, " ", -1) === "PM"
      ((when(isPm, (h % 12) + 12).otherwise(h % 12)) * 3600 + m * 60).cast("long")
    }

    def times(hoursStr: Column): Column =
      regexp_extract_all(hoursStr, lit(timePattern), lit(1))

    def opens(hoursStr: Column): Column = sentinels(hoursStr, lit(0L),
      filter(transform(times(hoursStr), timeToSec _),
        (_, i) => i % 2 === 0))

    def closes(hoursStr: Column): Column = sentinels(hoursStr, lit(86399L),
      filter(transform(times(hoursStr), timeToSec _),
        (_, i) => i % 2 === 1))

    private def sentinels(s: Column, open24: Column, parsed: Column): Column =
      when(s === "Closed", array().cast("array<long>"))
        .when(s === "Open 24 hours", array(open24))
        .otherwise(parsed)

    private val timeStrict = "(?:1[0-2]|[1-9])(?::[0-5][0-9])? [AP]M"
    private val hoursGrammar =
      s"^(?:$timeStrict - $timeStrict)+(?: \\(Next day\\))?$$"

    def isParseable(s: Column): Column =
      s.isin("Closed", "Open 24 hours") || s.rlike(hoursGrammar)
  }

  private def parse(s: String): (Seq[Long], Seq[Long]) = {
    val row = Seq(s).toDF("hours_str")
      .select(HoursParser.opens(col("hours_str")).as("o"),
        HoursParser.closes(col("hours_str")).as("c"))
      .head()
    (row.getSeq[Long](0), row.getSeq[Long](1))
  }

  test("golden corpus from the reference docstring") {
    assert(parse("11:00 AM - 3:00 PM") == (Seq(39600L), Seq(54000L)))
    assert(parse("11:00 AM - 3:00 PM4:30 PM - 10:00 PM") ==
      (Seq(39600L, 59400L), Seq(54000L, 79200L)))
    assert(parse("Closed") == (Seq(), Seq()))
    assert(parse("Open 24 hours") == (Seq(0L), Seq(86399L)))
    assert(parse("4:00 PM - 12:00 AM (Next day)") == (Seq(57600L), Seq(0L)))
    assert(parse("12:00 PM - 12:00 AM") == (Seq(43200L), Seq(0L)))
    assert(parse("11 AM - 3 PM") == (Seq(39600L), Seq(54000L)))
  }

  test("parse_hours resolves in SQL") {
    val got = spark.sql(
      "SELECT parse_hours('11:00 AM - 3:00 PM4:30 PM - 10:00 PM')," +
        " parse_hours('Closed'), parse_hours('1:5 PM - 2:00 PM')").head()
    assert(got.getSeq[Row](0).map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((39600L, 54000L), (59400L, 79200L)))
    assert(got.getSeq[Row](1).isEmpty && got.isNullAt(2))
  }

  test("garbage is flagged unparseable, valid strings are not") {
    val flags = Seq("gibberish", "11:00 AM - 3:00 PM", "Closed", "3:00 PM",
      "11:99 AM - 3:00 PM", // minute out of range — strptime would raise
      "19:00 AM - 9:00 PM", // hour 19 impossible on a 12-hour clock
      "0:30 AM - 1:00 PM", //  hour 0 likewise
      "1:5 PM - 2:00 PM", //   single-digit minute: must not re-tokenize
      "11:00 AM - 3:00 PM4:30 PM - 10:00 PM", // glued ranges are valid
      "4:00 PM - 12:00 AM (Next day)", "11 AM - 3 PM")
      .toDF("s").select(HoursParser.parse(col("s")).isNotNull).as[Boolean]
      .collect()
    assert(flags.toSeq ==
      Seq(false, true, true, false, false, false, false, false,
        true, true, true))
  }

  private def fmt12(sec: Long): String = {
    val h24 = (sec / 3600).toInt; val m = ((sec % 3600) / 60).toInt
    val h12 = if (h24 % 12 == 0) 12 else h24 % 12
    f"$h12%d:$m%02d ${if (h24 < 12) "AM" else "PM"}"
  }

  test("property: format → parse round-trips (200 seeded cases)") {
    val rnd = new scala.util.Random(42)
    val cases = (0 until 200).map { i =>
      val n = 1 + rnd.nextInt(3)
      val secs = Seq.fill(2 * n)(
        rnd.nextInt(24) * 3600L + rnd.nextInt(60) * 60L)
      val str = secs.map(fmt12).grouped(2)
        .map(p => s"${p.head} - ${p(1)}").mkString
      (i, str, secs)
    }
    val got = cases.map { case (i, str, _) => (i, str) }.toDF("i", "s")
      .select(col("i"), HoursParser.opens(col("s")).as("o"),
        HoursParser.closes(col("s")).as("c"))
      .orderBy("i")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1), r.getSeq[Long](2)))
    cases.zip(got).foreach { case ((i, str, secs), (gi, o, c)) =>
      assert(i == gi)
      val expected = secs.grouped(2).map(p => (p.head, p(1))).toSeq
      assert(o.zip(c) == expected, s"case $i: '$str'")
    }
  }

  test("minutesUntilClose rolls over midnight like the reference") {
    // app.py:219-224: close 01:00 with now=12:00 → tomorrow, 13 h away
    val df = Seq((3600L, 43200L), (50400L, 43200L), (43200L, 43200L))
      .toDF("close", "now")
      .select(HoursParser.minutesUntilClose(col("close"), col("now"))
        .cast("long"))
    assert(df.as[Long].collect().toSeq == Seq(780L, 120L, 0L))
  }

  /** Seeded near-misses of valid strings: each a valid string with one
    * edit at a random position from the grammar's own alphabet, or with a
    * suffix that is (or is nearly) a legal ending. */
  private def nearMisses(rnd: scala.util.Random, n: Int): Seq[String] = {
    val alphabet = "0123456789: APMN()-\n"
    val suffixes = Seq(" (Next day)", "(Next day)", " (next day)", "\n",
      "\r\n", "\n\n", " \n", "\u2028", " (Next day)\n", " ")
    Seq.fill(n) {
      val secs = Seq.fill(2 * (1 + rnd.nextInt(2)))(
        rnd.nextInt(24) * 3600L + rnd.nextInt(60) * 60L)
      val ok = secs.map(fmt12).grouped(2)
        .map(p => s"${p.head} - ${p(1)}").mkString
      val at = rnd.nextInt(ok.length)
      val ch = alphabet(rnd.nextInt(alphabet.length))
      rnd.nextInt(4) match {
        case 0 => ok.updated(at, ch)
        case 1 => ok.patch(at, "", 1)
        case 2 => ok.patch(at, ch.toString, 0)
        case _ => ok + suffixes(rnd.nextInt(suffixes.size))
      }
    }
  }

  private val fixedCases = Seq(
    "11:00 AM - 3:00 PM", "11:00 AM - 3:00 PM4:30 PM - 10:00 PM",
    "Closed", "Open 24 hours", "4:00 PM - 12:00 AM (Next day)",
    "12:00 PM - 12:00 AM", "11 AM - 3 PM", "12 AM - 12 PM",
    "1:5 PM - 2:00 PM", "13:00 PM - 1:00 AM", "0:30 AM - 1:00 PM",
    "11:00 AM - 3:00 PM 4:30 PM - 10:00 PM", // ranges must be glued
    "11:00 AM - 3:00 PM4:30 PM", //             an odd token count
    "4:00 PM - 12:00 AM(Next day)", "11:00 AM - 3:00 PM\n",
    "11:00 AM - 3:00 PM (Next day)\n", "11:00 AM - 3:00 PM\n\n",
    "\n11:00 AM - 3:00 PM", "Closed\n", "closed", "Open 24 hours\n",
    "11:00 am - 3:00 pm", "11:00 AM -3:00 PM", "011:00 AM - 3:00 PM",
    "11:000 AM - 3:00 PM", "gibberish", "", null)

  Seq("CODEGEN_ONLY", "NO_CODEGEN").foreach { mode =>
    test(s"parse_hours ≡ the regex/HOF parser on valid input, NULL " +
        s"otherwise ($mode)") {
      val rnd = new scala.util.Random(11)
      val roundTrip = Seq.fill(200) {
        Seq.fill(2 * (1 + rnd.nextInt(3)))(
          rnd.nextInt(24) * 3600L + rnd.nextInt(60) * 60L)
          .map(fmt12).grouped(2).map(p => s"${p.head} - ${p(1)}").mkString
      }
      val corpus = fixedCases ++ roundTrip ++ nearMisses(rnd, 600)
      // an RDD-backed frame: a local one would be folded by the optimizer
      // with interpreted eval, whatever the codegen mode
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          corpus.zipWithIndex.map { case (h, i) => Row(i, h) }, 4),
        StructType(Seq(StructField("i", IntegerType, nullable = false),
          StructField("s", StringType))))
      val confs = if (mode == "CODEGEN_ONLY")
        Seq("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.fallback" -> "false")
      else Seq("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> "false")
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val rows = try df.select(col("i"),
          coalesce(RegexParser.isParseable(col("s")), lit(false)),
          RegexParser.opens(col("s")), RegexParser.closes(col("s")),
          HoursParser.parse(col("s")), HoursParser.parse(col("s")).isNotNull,
          HoursParser.opens(col("s")), HoursParser.closes(col("s")))
        .orderBy("i").collect()
      finally confs.foreach { case (k, _) => spark.conf.unset(k) }
      assert(rows.map(_.getInt(0)).toSeq == corpus.indices)
      rows.foreach { r =>
        val str = corpus(r.getInt(0))
        val valid = r.getBoolean(1)
        assert(r.getBoolean(5) == valid, s"validity of '$str'")
        if (valid) {
          val (o, c) = (r.getSeq[Long](2), r.getSeq[Long](3))
          val got = r.getSeq[Row](4).map(iv => (iv.getLong(0), iv.getLong(1)))
          assert(got == o.zip(c) && o.size == c.size, s"intervals of '$str'")
          assert(r.getSeq[Long](6) == o && r.getSeq[Long](7) == c,
            s"opens/closes of '$str'")
        } else assert(r.isNullAt(4) && r.isNullAt(6) && r.isNullAt(7),
          s"'$str' fails the grammar but parsed")
      }
      // the fuzz must land on both sides of the grammar
      val nValid = rows.count(_.getBoolean(1))
      assert(nValid > 250 && rows.length - nValid > 250,
        s"$nValid of ${rows.length} valid")
    }
  }
}
