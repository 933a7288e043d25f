package graft.report

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ReporterSpec extends SparkSpec {

  def mkEvents() = {
    import spark.implicits._
    Seq(
      ("1.1.1.1", "US", "United States", "ssh", "auth-failure"),
      ("1.1.1.1", "US", "United States", "ssh", "auth-failure"),
      ("1.1.1.1", "US", "United States", "http", "XDebug"),
      ("2.2.2.2", "NL", "Netherlands", "ssh", "user-enumeration"))
      .toDF("address", "country_code", "country_name", "sensor", "rule")
  }

  test("report: totals, counters string, desc order (A1-A4, O1)") {
    val rows = Reporter.report(mkEvents()).collect()
    assert(rows.map(_.getAs[String]("address")).toSeq == Seq("1.1.1.1", "2.2.2.2"))
    val top = rows.head
    assert(top.getAs[Long]("total_events") == 3L)
    assert(top.getAs[String]("counters") == "http/XDebug:1|ssh/auth-failure:2")
    assert(top.getAs[String]("country_code") == "US")
    assert(rows(1).getAs[String]("counters") == "ssh/user-enumeration:1")
  }

  test("report columns match the reference CSV header (B.3)") {
    assert(Reporter.report(mkEvents()).columns.toSeq == Reporter.Header)
  }

  test("csv file naming (core/reporter.go:124)") {
    val now = java.time.ZonedDateTime.of(2026, 8, 3, 11, 22, 33, 0, java.time.ZoneOffset.UTC)
    assert(Reporter.fileName(now) == "report_2026-08-03T11:22:33+0000.csv")
  }

  test("writeCsv produces a single header'd file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-report").toString
    val out = Reporter.writeCsv(Reporter.report(mkEvents()), dir)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val lines = scala.io.Source.fromFile(files.head).getLines().toSeq
    assert(lines.head == "address,country_code,country_name,total_events,counters")
    assert(lines.length == 3)
    // a second report stamped in the same second overwrites the first
    val now = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)
    val first = Reporter.writeCsv(Reporter.report(mkEvents()), dir, now)
    val again = Reporter.writeCsv(Reporter.report(mkEvents().limit(1)), dir, now)
    assert(again == first)
    val rewritten = new java.io.File(again).listFiles().filter(_.getName.endsWith(".csv"))
    assert(rewritten.length == 1)
    assert(scala.io.Source.fromFile(rewritten.head).getLines().length == 2)
  }

  test("country summary + tweet text (A5, O2, O3, F10, F11)") {
    import spark.implicits._
    val ev = Seq("US", "US", "US", "NL", "NL", "CN", "DE", "FR", "IT", "GB")
      .map(c => (c, c + " Name")).toDF("country_code", "country_name")
    val summary = Reporter.countrySummary(ev)
    val top = summary.head()
    assert(top.getString(0) == "US" && top.getLong(1) == 3L)
    val tweet = Reporter.tweetText(summary, totalEvents = 10, reportUrl = "http://r/x.csv")
    assert(tweet.startsWith("10 new events from "))
    assert(tweet.contains("🇺🇸  (3)")) // US flag
    assert(tweet.contains("...")) // 7 countries -> truncated to 5
    assert(tweet.endsWith("http://r/x.csv #takuan #threatreport"))
  }

  test("tweet pluralization: 1 event (F11)") {
    import spark.implicits._
    val ev = Seq(("US", "n")).toDF("country_code", "country_name")
    val tweet = Reporter.tweetText(Reporter.countrySummary(ev), 1, "u")
    assert(tweet.startsWith("1 new event from "))
  }

  test("totals: events + distinct addresses in one pass (A6)") {
    assert(Reporter.totals(mkEvents()) == (4L, 2L))
  }

  test("late-enrich report is identical to enrich-then-report") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val geo = graft.T.t(spark, dir, "nation").select(
      (lit(167772160L) + col("n_nationkey").cast("long") * 64).as("start_ip_num"),
      (lit(167772160L) + col("n_nationkey").cast("long") * 64 + 63).as("end_ip_num"),
      col("n_name").as("country_code"), col("n_name").as("country_name"))
    val ev = graft.T.events(spark, dir).select(
      format_string("10.0.%d.%d", expr("user_id div 256"), expr("user_id % 256")).as("address"),
      lit("app").as("sensor"), col("event_type").as("rule"))
    val early = Reporter.report(graft.enrich.GeoIp.enrich(ev, geo))
      .collect().map(_.toSeq).toSeq
    val late = Reporter.reportLateEnrich(ev, geo)
      .collect().map(_.toSeq).toSeq
    assert(late == early)
  }
}
