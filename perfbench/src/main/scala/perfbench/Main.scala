package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.enrich.GeoIp
import Tracer.{median, nowMs}

/** Counters and metrics of one benchmark run. An operation is a query, a
  * micro-batch, a report call or an output check. */
final class Run(val spark: SparkSession, val tracer: Tracer) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def check(what: String)(cond: => Boolean): Unit = {
    attempted += 1
    val ok = try cond catch { case e: Throwable => log(s"$what: $e"); false }
    if (!ok) { failed += 1; log(s"CHECK FAILED: $what") }
  }
}

/** Workloads differ in traffic mix; each runs the whole cycle: the
  * composed pipelines cold, a backlog drain plus reports, a live window,
  * and the registry sample warm. */
object Workloads {
  val all: Map[String, Mix] = Map(
    // Most lines are attacks from a wide address population: enrich and
    // the report's shuffle carry the most rows.
    "attack_wide" -> Mix(attack = 0.6, benign = 0.3, garbage = 0.1, badDatetime = 0.01,
      addrPool = 100000, zipfS = 0.9),
    // Most lines are benign or rejected by the parser, from a few hot
    // addresses: the parse regexes dominate and the report stays small.
    "noise_hot" -> Mix(attack = 0.1, benign = 0.55, garbage = 0.35, badDatetime = 0.005,
      addrPool = 2000, zipfS = 1.3))
}

object Main {

  /** Session settings mirror graft.Bench's. */
  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "2097152")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    graft.queries.SharedRels.clear(spark)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opts("work")).getAbsoluteFile
    val data = new File(opts("data")).getAbsolutePath
    val expectedFile = new File(opts("expected"))
    val cores = opts("cores").toInt
    work.mkdirs()

    opts.get("record").foreach { out =>
      Registry.record(n => session(n, work), cores, data, new File(out))
      return
    }

    val mix = Workloads.all(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val backlogLines = 100000
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // Set-up, five times: the run's inputs, a Spark session and the geo
    // table read through GeoIp.fromCsv (which builds the session state,
    // extensions included). The first starts with the JVM; the next four
    // stop the session and set up again in the warm JVM, writing the same
    // bytes. setup_s is their median.
    val geoCsv = new File(work, "geo.csv")
    val backlog = new File(work, "backlog"); backlog.mkdirs()
    val warmLogs = new File(work, "warmup-logs"); warmLogs.mkdirs()
    def setUp(): (SparkSession, DataFrame, Ledger) = {
      val ledger = Gen.writeBacklog(backlog, seed, mix, backlogLines)
      Gen.writeBacklog(warmLogs, seed + 1, mix, 30000)
      Gen.writeGeoCsv(geoCsv)
      val s = session(cores, work)
      (s, GeoIp.fromCsv(s, geoCsv.getAbsolutePath), ledger)
    }
    var (spark, geo, ledger) = setUp()
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1000.0)
    for (_ <- 1 to 4) {
      stop(spark)
      val t0 = nowMs
      val (s, g, l) = setUp()
      spark = s; geo = g; ledger = l
      setups += (nowMs - t0) / 1000
    }
    val tracer = new Tracer(spark, traced)
    val run = new Run(spark, tracer)
    val exp = Registry.loadExpected(expectedFile)
    run.put("setup_s", median(setups.toSeq), "s")
    run.put("jvm.cold_setup_s", setups.head, "s")
    run.log(f"set-up: ${setups.map(x => f"$x%.3f").mkString(", ")} s")

    def phase(name: String): Unit =
      run.log(f"$name at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")

    // 1. The composed pipelines, first thing in the fresh JVM.
    phase("cold pipelines")
    Registry.cold(run, data, exp)

    // 2. Live: open-loop generator against ProcessingTime(0) sensors. It
    // also warms the streaming and report paths for the backlog phase.
    phase("live")
    val svc = new Service(run, geo)
    svc.live(new File(work, "live-logs"), new File(work, "live-out"), seed, mix,
      warmMs = 500, windowMs = math.max(5600L, (seconds * 280).toLong))

    // 3. Backlog: drain with Trigger.AvailableNow, then a report over the
    // table the sink just wrote.
    phase("backlog")
    // Untimed: a smaller drain lets the JIT finish compiling the per-row
    // parse path before the timed one.
    svc.drain(warmLogs, new File(work, "warmup-out"))
    val drains = mutable.ArrayBuffer.empty[Double]
    val reports = mutable.ArrayBuffer.empty[Double]
    val cpuPerKline = mutable.ArrayBuffer.empty[Double]
    var nullCreated = 0L
    var lastOut: File = null
    val backlogEnd = nowMs + seconds * 250
    while (drains.isEmpty || nowMs < backlogEnd) {
      val out = new File(work, s"backlog-out-${drains.size}")
      System.gc()
      val cpu0 = Tracer.cpuNs
      val ms = tracer.span("backlog.drain")(svc.drain(backlog, out))
      cpuPerKline += (Tracer.cpuNs - cpu0) / 1e6 / ledger.totalLines * 1000
      drains += ledger.totalLines / (ms / 1000)
      if (traced && lastOut == null) svc.drainLayers(out)
      nullCreated = svc.checkSink(out, ledger, "backlog")
      System.gc()
      reports += svc.report(out)
      lastOut = out
    }
    run.put("streaming.drain_cpu_ms_per_kline", median(cpuPerKline.toSeq), "ms")
    run.put("streaming.backlog_lines_per_s", median(drains.toSeq), "lines/s")
    run.put("report.batch_s", median(reports.toSeq) / 1000, "s")

    // 4. The registry, warm.
    phase("registry warm")
    Registry.warm(run, data, exp, seed, seconds * 0.1)
    phase("done")

    if (traced) {
      run.put("parse.null_created_at_in_sink", nullCreated.toDouble, "count")
      svc.parseEnrichLayers(backlog, ledger)
      svc.reportLayers(lastOut)
    }
    run.put("jvm.peak_rss_mb", peakRssMb, "MB")

    if (traced) {
      tracer.write(new File(opts("trace-out")))
      // Single-thread baseline: the same drain on local[1].
      stop(spark)
      val one = session(1, work)
      val geo1 = GeoIp.fromCsv(one, geoCsv.getAbsolutePath)
      val run1 = new Run(one, new Tracer(one, traced = false))
      val svc1 = new Service(run1, geo1)
      svc1.drain(warmLogs, new File(work, "one-warmup"))
      val ms = svc1.drain(backlog, new File(work, "one-out"))
      run.put("streaming.lines_per_s_1core", ledger.totalLines / (ms / 1000), "lines/s")
      run.attempted += run1.attempted
      run.failed += run1.failed
      stop(one)
    } else stop(spark)

    val m = run.metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) "null" else v.toString},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${run.failed == 0},"attempted":${run.attempted},"failed":${run.failed},"metrics":$m}""")
  }

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
