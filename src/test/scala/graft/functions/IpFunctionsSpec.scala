package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class IpUtilSpec extends AnyFunSuite {

  def p(s: String): Long = IpUtil.ipv4ToLong(UTF8String.fromString(s))

  test("valid addresses") {
    assert(p("0.0.0.0") == 0L)
    assert(p("255.255.255.255") == 4294967295L)
    assert(p("10.0.0.1") == 167772161L)
    assert(p("203.0.113.7") == 3405803783L)
  }

  test("invalid addresses -> -1 (net.ParseIP parity)") {
    for (s <- Seq("", "1.2.3", "1.2.3.4.5", "256.1.1.1", "a.b.c.d",
        "1..2.3", "1.2.3.4 ", "01.2.3.4", "1.2.3.04", "-1.2.3.4", "::1"))
      assert(p(s) == -1L, s"'$s' should be invalid")
  }

  test("roundtrip property: longToIpv4 ∘ ipv4ToLong = id (seeded sample)") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val ip = Seq.fill(4)(rnd.nextInt(256)).mkString(".")
      assert(IpUtil.longToIpv4(p(ip)).toString == ip)
    }
  }
}

class IpToNumSparkSpec extends SparkSpec {
  import GraftFunctions._

  test("ip_to_num as Column expression with codegen") {
    import spark.implicits._
    val df = Seq("10.0.0.1", "255.255.255.255", "garbage", null)
      .toDF("addr").select(ip_to_num(col("addr")).as("n"))
    val got = df.collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(got.toSeq == Seq(167772161L, 4294967295L, null, null))
  }

  test("ip_to_num registered for SQL") {
    // by GraftExtensions, which every GraftSession carries
    import spark.implicits._
    Seq("1.2.3.4").toDF("a").createOrReplaceTempView("ips")
    val r = spark.sql("SELECT ip_to_num(a) AS n FROM ips").head()
    assert(r.getLong(0) == 16909060L)
  }
}
