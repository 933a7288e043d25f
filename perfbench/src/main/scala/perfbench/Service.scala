package perfbench

import java.io.{File, FileOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.config.SensorConf
import graft.enrich.GeoIp
import graft.parse.LogParser
import graft.report.Reporter
import graft.streaming.{Ingest, ReportJob, ReportPublisher}
import Tracer.{median, nowMs, percentile}
import Service.Chunk

/** Records what the report path publishes, so the checks can compare it. */
final class CountingPublisher extends ReportPublisher {
  @volatile var addresses = -1L
  @volatile var events = -1L
  override def publishCsv(dir: String, a: Long, e: Long): String = {
    addresses = a; events = e; s"file://$dir"
  }
  override def publishSummary(tweet: String): Unit = ()
}

/** The service path: tail → parse → classify → GeoIP → parquet sink →
  * report, driven through its public entry points. */
final class Service(run: Run, geo: DataFrame) {
  private val spark: SparkSession = run.spark
  private val tracer = run.tracer
  // Report clock: a fixed start, one second further per report, so every
  // report gets its own artifact name as it would in service.
  private val reportClock = new java.util.concurrent.atomic.AtomicLong
  private def nextNow(): java.time.ZonedDateTime = java.time.ZonedDateTime.of(
    2026, 8, 3, 12, 0, 0, 0, java.time.ZoneOffset.UTC).plusSeconds(reportClock.incrementAndGet())

  def sensorsIn(dir: File): Seq[SensorConf] = Gen.Sensors.map(s =>
    s.copy(filename = new File(dir, s"${s.name}.log").getAbsolutePath))

  private def startSensors(logs: File, out: File, trigger: Trigger): Seq[StreamingQuery] =
    sensorsIn(logs).map(s => Ingest.sensorQuery(spark, s, Gen.Node,
      new File(out, "events").getAbsolutePath, new File(out, "ck").getAbsolutePath,
      Some(geo), trigger))

  /** Drain every line of `logs` into a fresh sink under `out` with
    * Trigger.AvailableNow. Returns the milliseconds from the first batch's
    * start to the last batch's end over both sensors, from their progress
    * events: the time rows spend in the pipeline, without query start-up. */
  def drain(logs: File, out: File): Double = {
    val t0 = nowMs
    val qs = startSensors(logs, out, Trigger.AvailableNow())
    qs.foreach(_.awaitTermination())
    val wall = nowMs - t0
    tracer.drain()
    lastDrain = qs
    val ps = batches(qs)
    run.attempted += ps.size
    val starts = ps.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli)
    val ms = (ps.zip(starts).map { case (p, t) => t + p.batchDuration }.max - starts.min).toDouble
    run.log(f"drain: batches $ms%.0f ms, wall $wall%.0f ms")
    ms
  }

  private var lastDrain: Seq[StreamingQuery] = Nil

  /** Progress of the micro-batches of `qs` that read input. */
  private def batches(qs: Seq[StreamingQuery]): Seq[StreamingQueryProgress] =
    qs.flatMap(q => tracer.progressOf(q.id)).filter(_.numInputRows > 0)

  def events(out: File): DataFrame = spark.read.parquet(new File(out, "events").getAbsolutePath)

  /** Sink against the ledger: rows with a valid created_at per
    * (sensor, rule), and no payload twice. Returns the planted
    * bad-datetime rows found in the sink (not gated). */
  def checkSink(out: File, ledger: Ledger, label: String): Long = {
    val ev = events(out)
    val got = ev.filter(col("created_at").isNotNull).groupBy("sensor", "rule").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    run.check(s"$label: events per (sensor, rule) equal the ledger") {
      val ok = got == ledger.events.toMap
      if (!ok) run.log(s"$label: sink $got vs ledger ${ledger.events.toMap}")
      ok
    }
    val r = ev.agg(count(lit(1)), countDistinct(col("payload")),
      count(when(col("created_at").isNull, 1))).head()
    run.check(s"$label: no payload duplicated")(r.getLong(0) == r.getLong(1))
    r.getLong(2)
  }

  /** One ReportJob.reportBatch over the sink; returns wall milliseconds.
    * Afterwards, untimed, compares its published totals and CSV with the
    * sink. */
  def report(out: File): Double = {
    val ev = events(out)
    val pub = new CountingPublisher
    val dir = new File(out, "reports").getAbsolutePath
    val now = nextNow()
    val t0 = nowMs
    val rows = tracer.span("report.batch")(ReportJob.reportBatch(ev, dir, pub, now))
    val ms = nowMs - t0
    run.attempted += 1
    val r = ev.agg(count(lit(1)), countDistinct(col("address"))).head()
    val (n, distinct) = (r.getLong(0), r.getLong(1))
    run.check("report rows equal distinct addresses")(rows == distinct && pub.addresses == distinct)
    run.check("report totals equal sink events")(pub.events == n)
    val csv = new File(dir, Reporter.fileName(now))
    val part = Option(csv.listFiles()).toSeq.flatten
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    val csvLines = part.toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList finally src.close()
    }
    run.check("report CSV header matches Reporter.Header")(
      csvLines.headOption.contains(Reporter.Header.mkString(",")))
    // Generated addresses, country names and counters hold no commas.
    run.check("report CSV total_events sum to sink events")(
      csvLines.drop(1).map(_.split(",", -1)(3).toLong).sum == n)
    ms
  }

  /** Per-layer split of the report (traced run): the calls reportBatch
    * makes, each timed on its own. */
  def reportLayers(out: File): Unit = {
    val ev = events(out)
    val dir = new File(out, "reports-layers").getAbsolutePath
    def timed[A](name: String)(body: => A): (A, Double) = {
      val t0 = nowMs
      val a = tracer.span(name)(body)
      (a, nowMs - t0)
    }
    tracer.span("report.layers") {
      val (_, agg) = timed("report.aggregate")(
        Reporter.report(ev).write.format("noop").mode("overwrite").save())
      val rep = Reporter.report(ev).cache()
      val rows = rep.count()
      val (_, csv) = timed("report.csv_write")(Reporter.writeCsv(rep, dir, nextNow()))
      rep.unpersist(blocking = true)
      val ((n, _), tot) = timed("report.totals")(Reporter.totals(ev))
      val (_, summ) = timed("report.summary")(
        Reporter.tweetText(Reporter.countrySummary(ev), n, "file://report"))
      run.put("report.aggregate_ms", agg, "ms")
      run.put("report.csv_write_ms", csv, "ms")
      run.put("report.totals_ms", tot, "ms")
      run.put("report.summary_ms", summ, "ms")
      run.put("report.rows_out", rows.toDouble, "count")
    }
    tracer.drain()
    val shuffle = tracer.spanNamed("report.layers").lastOption
      .map(s => tracer.stagesOf(tracer.jobsUnder(s.id)).map(_.shuffleWrite).sum).getOrElse(0L)
    run.put("report.shuffle_bytes", shuffle.toDouble, "bytes")
  }

  /** Per-layer split of parse and enrich (traced run). They fuse into one
    * streaming stage, so they are timed as separate calls over a static
    * read of the same backlog files, each with a noop write. */
  def parseEnrichLayers(logs: File, ledger: Ledger): Unit = {
    def noop(df: DataFrame): Double = {
      val t0 = nowMs
      df.write.format("noop").mode("overwrite").save()
      nowMs - t0
    }
    val sensors = sensorsIn(logs)
    def pass(): (Double, Double) = sensors.map { s =>
      val lines = spark.read.text(s.filename)
      val p = tracer.span("parse.pipeline")(noop(LogParser.pipeline(lines, s, Gen.Node)))
      val e = tracer.span("enrich.pipeline")(noop(GeoIp.enrich(LogParser.pipeline(lines, s, Gen.Node), geo)))
      (p, e)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    pass() // warm-up
    // Enrich is timed as a difference within each pass, so both of its
    // timings run back to back at the same host speed.
    val passes = (1 to 3).map(_ => pass())
    val parseMs = median(passes.map(_._1))
    val enrichMs = median(passes.map(p => p._2 - p._1))
    var linesIn, tokenized, matched, bad, enriched, located = 0L
    sensors.foreach { s =>
      val lines = spark.read.text(s.filename)
      linesIn += lines.count()
      tokenized += LogParser.tokenize(lines, s.parser).count()
      matched += LogParser.pipeline(lines, s, Gen.Node).count()
      bad += LogParser.malformedDatetimes(lines, s).count()
      val r = GeoIp.enrich(LogParser.pipeline(lines, s, Gen.Node), geo)
        .agg(count(lit(1)), count(col("country_code"))).head()
      enriched += r.getLong(0); located += r.getLong(1)
    }
    run.check("parse: tokenized lines equal the ledger")(tokenized == ledger.parsed.values.sum)
    run.check("parse: rule-matched lines equal the ledger")(matched == ledger.totalEvents)
    tracer.drain()
    val broadcast = tracer.spanNamed("enrich.pipeline").takeRight(sensors.size)
      .flatMap(tracer.phasesIn).map(_.broadcastMs).sum
    run.put("parse.ms", parseMs, "ms")
    run.put("parse.lines_in", linesIn.toDouble, "count")
    run.put("parse.tokenized", tokenized.toDouble, "count")
    run.put("parse.rule_matched", matched.toDouble, "count")
    run.put("parse.events_per_line", matched.toDouble / linesIn, "ratio")
    run.put("parse.bad_datetime", bad.toDouble, "count")
    run.put("enrich.ms", enrichMs, "ms")
    run.put("enrich.rows", enriched.toDouble, "count")
    run.put("enrich.match_ratio", located.toDouble / math.max(1L, enriched), "ratio")
    run.put("enrich.broadcast_ms", broadcast.toDouble, "ms")
  }

  /** Streaming per-layer numbers of one drain (traced run). */
  def drainLayers(out: File): Unit = {
    tracer.drain()
    val ps = batches(lastDrain)
    val tasks = ps.map { p =>
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      tracer.stagesOf(tracer.jobsOfStream(p.id.toString, t0, t0 + p.batchDuration))
        .map(_.tasks).sum.toDouble
    }
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    run.put("streaming.tasks_per_batch", if (tasks.isEmpty) 0 else median(tasks), "count")
    run.put("streaming.add_batch_ms", ps.map(dur(_, "addBatch")).sum, "ms")
    run.put("streaming.latest_offset_ms", ps.map(dur(_, "latestOffset")).sum, "ms")
    run.put("streaming.backlog_bytes_max",
      (0.0 +: ps.map(p => Service.offsetBytes(p))).max, "bytes")
    val files = Service.sinkFiles(new File(out, "events"))
    run.put("streaming.sink_files", files.size.toDouble, "count")
    run.put("streaming.sink_bytes", files.map(_.length).sum.toDouble, "bytes")
  }

  /** Open-loop live traffic: `linesPerTick` lines per file every
    * `tickMs`, appended on a fixed schedule whatever the system does. */
  final class Generator(logs: File, seed: Long, mix: Mix, linesPerTick: Int, tickMs: Long)
      extends Thread("perfbench-generator") {
    val ledger = new Ledger
    private val sources = Seq("ssh", "http").map { s =>
      val f = new File(logs, s"$s.log")
      (s"file:${f.getAbsolutePath}", new FileOutputStream(f, true),
        new Gen.Lines(s, seed ^ 0x5eed, mix, ledger))
    }
    private val offsets = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val chunks = mutable.ArrayBuffer.empty[Chunk]
    val lateMs = mutable.ArrayBuffer.empty[(Long, Long)] // (due, late)
    @volatile var stopAt: Long = Long.MaxValue
    val t0: Long = System.currentTimeMillis() + 200
    setDaemon(true)

    override def run(): Unit = try {
      var k = 0L
      while (t0 + k * tickMs < stopAt) {
        val due = t0 + k * tickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val late = System.currentTimeMillis() - due
        sources.foreach { case (name, out, lines) =>
          val buf = new java.io.ByteArrayOutputStream(linesPerTick * 128)
          val n = lines.writeTo(buf, linesPerTick)
          out.write(buf.toByteArray); out.flush()
          offsets(name) += n
          chunks.synchronized(chunks += Chunk(name, due, offsets(name)))
        }
        lateMs.synchronized(lateMs += due -> late)
        k += 1
      }
    } finally sources.foreach(_._2.close())

    def fileSizes: Map[String, Long] = offsets.toMap
  }

  /** The live phase: sensors on Trigger.ProcessingTime(0) with a report
    * stream beside them, fed by the open-loop generator. */
  def live(logs: File, out: File, seed: Long, mix: Mix, warmMs: Long, windowMs: Long): Unit = {
    logs.mkdirs()
    Seq("ssh", "http").foreach(s => new File(logs, s"$s.log").createNewFile())
    val sensors = startSensors(logs, out, Trigger.ProcessingTime(0))
    val gen = new Generator(logs, seed, mix, linesPerTick = 25, tickMs = 50)
    gen.start()
    // The report stream reads the sink's schema at start: wait for the
    // first committed batch of both sensors.
    val deadline = System.currentTimeMillis() + 60000
    while (sensors.exists(q => Option(q.lastProgress).forall(_.numInputRows == 0)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    run.log(f"live: first batches after ${System.currentTimeMillis() - gen.t0} ms")
    val pub = new CountingPublisher
    val reporter = ReportJob.stream(spark, new File(out, "events").getAbsolutePath,
      new File(out, "reports").getAbsolutePath, new File(out, "ck-report").getAbsolutePath,
      pub, periodSecs = 2, now = () => nextNow())
    val winStart = math.max(System.currentTimeMillis(), gen.t0) + warmMs
    Thread.sleep(math.max(0, winStart - System.currentTimeMillis()))
    val w0 = System.currentTimeMillis()
    Thread.sleep(windowMs)
    val w1 = System.currentTimeMillis()
    gen.stopAt = w1
    gen.join()
    // Final drain: every appended byte must reach a committed batch.
    val sizes = gen.fileSizes
    def committed(q: StreamingQuery): Map[String, Long] =
      Option(q.lastProgress).map(p => Service.endOffsets(p.sources.head.endOffset)).getOrElse(Map.empty)
    val drainDeadline = System.currentTimeMillis() + 60000
    while (!sensors.forall(q => committed(q).forall { case (f, o) => o >= sizes.getOrElse(f, 0L) } &&
        committed(q).nonEmpty) && System.currentTimeMillis() < drainDeadline) Thread.sleep(20)
    run.log(f"live: final drain took ${System.currentTimeMillis() - w1} ms")
    run.check("live: every appended line committed after the final drain") {
      sensors.forall(q => committed(q).exists { case (f, o) => o == sizes.getOrElse(f, -1L) })
    }
    (sensors :+ reporter).foreach { q =>
      run.check(s"live: ${q.name} ran without error")(q.exception.isEmpty)
      q.stop()
    }
    tracer.drain()
    run.log(f"live: streams stopped ${System.currentTimeMillis() - w1} ms after the window")

    // Latency per chunk in the window: due time → end of the first batch
    // whose committed end offset covers the chunk's last byte.
    val committedAt = batches(sensors)
      .flatMap { p =>
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration
        Service.endOffsets(p.sources.head.endOffset).map { case (f, o) => (f, o, end) }
      }.groupBy(_._1)
    val inWindow = gen.chunks.synchronized(gen.chunks.filter(c => c.due >= w0 && c.due < w1).toSeq)
    val lat = inWindow.flatMap { c =>
      committedAt.getOrElse(c.file, Nil).filter(_._2 >= c.end).map(_._3).minOption.map(e => (e - c.due).toDouble)
    }
    run.attempted += inWindow.size
    run.failed += inWindow.size - lat.size
    run.check("live: at least 200 chunk samples in the window")(lat.size >= 200)
    if (lat.nonEmpty) {
      run.put("ingest_latency_p50_ms", median(lat), "ms")
      run.put("ingest_latency_p95_ms", percentile(lat, 95), "ms")
    }
    val late = gen.lateMs.synchronized(gen.lateMs.filter(d => d._1 >= w0 && d._1 < w1).map(_._2).toSeq)
    val lateMax = if (late.isEmpty) 0.0 else late.max.toDouble
    run.check(s"live: generator on schedule (latest tick $lateMax ms late)")(lateMax < 100)
    val ledger = gen.ledger
    checkSink(out, ledger, "live")

    if (tracer.traced) {
      val ps = batches(sensors).filter { p =>
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli
        t >= w0 && t < w1
      }
      def dur(p: StreamingQueryProgress, ks: String*): Double =
        ks.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
      run.put("streaming.query_planning_ms", med(ps.map(dur(_, "queryPlanning"))), "ms")
      run.put("streaming.wal_commit_ms", med(ps.map(dur(_, "walCommit", "commitOffsets"))), "ms")
      run.put("streaming.batches", ps.size.toDouble, "count")
      run.put("streaming.rows_in", ps.map(_.numInputRows.toDouble).sum, "count")
      run.put("streaming.report_batch_ms",
        med(batches(Seq(reporter)).map(dur(_, "addBatch"))), "ms")
      run.put("streaming.generator_late_ms_max", lateMax, "ms")
      ps.foreach { p =>
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        tracer.addSpan(s"stream.${p.name}.batch.${p.batchId}", 0, t, t + p.batchDuration)
      }
    }
  }
}

object Service {
  /** One appended chunk: its file, when it was due, and the file offset
    * just past its last byte. */
  final case class Chunk(file: String, due: Long, end: Long)

  /** Per-file committed offsets from a tail-file progress offset JSON. */
  def endOffsets(json: String): Map[String, Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods._
    if (json == null) return Map.empty
    (parse(json) \ "files") match {
      case JObject(fs) => fs.map { case (k, v) =>
        k -> ((v \ "off") match {
          case JInt(x) => x.toLong
          case JLong(x) => x
          case _ => 0L
        })
      }.toMap
      case _ => Map.empty
    }
  }

  def offsetBytes(p: StreamingQueryProgress): Double = p.sources.map { s =>
    val a = endOffsets(s.startOffset)
    endOffsets(s.endOffset).map { case (f, o) => o - a.getOrElse(f, 0L) }.sum
  }.sum.toDouble

  def sinkFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else java.nio.file.Files.walk(dir.toPath).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
}
