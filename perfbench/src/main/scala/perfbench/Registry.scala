package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import Tracer.{median, nowMs}

/** Expected output of one registry entry, recorded on the seed commit.
  * `stable` is false when two runs at different core counts gave
  * different content; such entries are checked by row count only. */
final case class Expected(rows: Long, hash: String, stable: Boolean, ms: Double)

/** The operator registry (`SparkEntry.queries`): the composed pipelines
  * cold and warm, and in the traced run a seeded sample per family. */
object Registry {

  val Pipelines = Seq("pipeline_web_curation", "pipeline_pretrain_prep", "takuan_ssh_pipeline")

  /** Name prefixes with at least eight registry entries; the rest are
    * "other". */
  val Families = Seq("curation", "decon", "dedup", "emb", "event", "graph", "mix", "mm",
    "q", "quality", "sample", "sim", "sketch", "text", "other")

  def family(name: String): String = {
    val f = name.takeWhile(_ != '_')
    if (Families.contains(f)) f else "other"
  }

  val Strata = 3
  val StratumWidth = 6

  /** One entry per stratum of the registry's recorded-time distribution.
    * Stratum k is the `StratumWidth` entries nearest the (2k+1)/(2·Strata)
    * quantile, so the sample spans the fixed-cost tail up to the
    * multi-second head while its total cost barely depends on the seed. */
  def sample(seed: Long, expected: Map[String, Expected]): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val byTime = expected.toSeq.filterNot(e => Pipelines.contains(e._1))
      .sortBy { case (n, e) => (e.ms, n) }.map(_._1)
    (0 until Strata).map { k =>
      val c = ((2 * k + 1) * byTime.size) / (2 * Strata)
      val lo = math.max(0, c - StratumWidth / 2)
      val band = byTime.slice(lo, math.min(byTime.size, lo + StratumWidth))
      band(rnd.nextInt(band.size))
    }
  }

  /** Each family's fastest entry the sample lacks, so every family has a
    * warm time in the traced run. */
  def familyProbes(names: Seq[String], expected: Map[String, Expected]): Seq[String] = {
    val have = names.map(family).toSet
    expected.toSeq.filterNot(e => Pipelines.contains(e._1)).groupBy(e => family(e._1)).toSeq
      .filterNot(f => have(f._1)).sortBy(_._1)
      .map(_._2.minBy { case (n, e) => (e.ms, n) }._1)
  }

  /** Row count and an order-independent content hash: the sum of each
    * row's 64-bit hash of its JSON form, with columns in name order under
    * positional keys (so neither row order nor column order matters, and
    * duplicate column names are allowed). */
  def rowsAndHash(df: DataFrame): (Long, String) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val byName = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val row = to_json(struct(byName.zipWithIndex.map { case (i, k) => col(s"c$i").as(s"k$k") }
      .toIndexedSeq: _*))
    val r = renamed.agg(count(lit(1)), sum(xxhash64(row).cast("decimal(20,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  def loadExpected(f: File): Map[String, Expected] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods._
    implicit val formats: Formats = DefaultFormats
    parse(f).extract[Map[String, Expected]]
  }

  /** Drop persisted blocks of finished queries, sparing the session's
    * shared fixtures (the same sweep graft.Bench makes between queries). */
  def sweep(spark: SparkSession): Unit = {
    val keep = graft.queries.SharedRels.liveRddIds(spark)
    spark.sparkContext.getPersistentRDDs.values.filterNot(r => keep.contains(r.id))
      .foreach(_.unpersist(blocking = true))
  }

  private def matches(e: Expected, got: (Long, String)): Boolean =
    got._1 == e.rows && (!e.stable || got._2 == e.hash)

  /** Run one entry with its output check as the action; a failed or
    * mismatching run counts as a failed operation. */
  private def runChecked(run: Run, name: String, dir: String, exp: Map[String, Expected]): Unit =
    run.check(s"registry: $name output matches the recorded rows and hash") {
      matches(exp(name), rowsAndHash(SparkEntry.queries(name)(run.spark, dir)))
    }

  /** First thing in a fresh JVM: each composed pipeline once, cold. Every
    * registry run's action is its output check (row count and content
    * hash, which reads every column as a noop write would), so outputs are
    * verified without running anything twice. */
  def cold(run: Run, dir: String, exp: Map[String, Expected]): Unit = {
    val (c0, cms0) = Tracer.codegen
    val times = Pipelines.map { p =>
      val t0 = nowMs
      run.tracer.span(s"registry.cold.$p")(runChecked(run, p, dir, exp))
      val s = (nowMs - t0) / 1000
      sweep(run.spark)
      p -> s
    }
    val (c1, cms1) = Tracer.codegen
    run.put("pipelines_cold_s", times.map(_._2).sum, "s")
    if (run.tracer.traced) {
      times.foreach { case (p, s) => run.put(s"queries.$p.cold_s", s, "s") }
      run.put("engine.codegen_compiles", (c1 - c0).toDouble, "count")
      run.put("engine.codegen_ms", cms1 - cms0, "ms")
    }
  }

  /** The registry warm. Its main number is the composed pipelines
    * re-run warm, at least once, until `seconds` have gone; their cold
    * run was the untimed first pass and output check. The traced run adds
    * a seeded sample, one entry per recorded-time stratum, and each
    * family's fastest entry the sample lacks, checked in one untimed pass
    * that also runs the pipelines a second time. Its timed passes start
    * with one more untraced warm-up pass, then alternate tracing on and
    * off, ending off; each traced pass is compared with the mean of the
    * untraced passes on either side of it, so the passes' warm-up trend
    * cancels out of the tracing overhead. */
  def warm(run: Run, dir: String, exp: Map[String, Expected], seed: Long, seconds: Double): Unit = {
    val tracer = run.tracer
    val extra = if (tracer.traced) {
      val sampled = sample(seed, exp)
      sampled ++ familyProbes(sampled, exp)
    } else Nil
    val names = Pipelines ++ extra
    run.log(s"registry warm (${names.size}): ${names.mkString(",")}")
    // Untimed: the traced run's first pass (pipelines included) checks the
    // sample and leaves the timed passes warm.
    if (tracer.traced) names.foreach { n => runChecked(run, n, dir, exp); sweep(run.spark) }
    System.gc()
    final case class Pass(traced: Boolean, s: Double, perEntry: Seq[(String, Double)],
        span: Option[Span], gcMs: Long, compiles: Long)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val end = nowMs + seconds * 1000
    val minPasses = if (tracer.traced) 4 else 1
    while (passes.size < minPasses || (nowMs < end && passes.size < 50) ||
        passes.lastOption.exists(_.traced)) {
      val on = tracer.traced && passes.size >= 2 && passes.size % 2 == 0
      tracer.active = on
      val gc0 = Tracer.gcMs
      val (cc0, _) = Tracer.codegen
      val t0 = nowMs
      val per = tracer.span("registry.pass") {
        names.map { n =>
          val a = nowMs
          tracer.span(s"registry.entry.$n")(runChecked(run, n, dir, exp))
          val s = (nowMs - a) / 1000
          sweep(run.spark)
          n -> s
        }
      }
      passes += Pass(on, per.map(_._2).sum, per,
        if (on) tracer.spanNamed("registry.pass").lastOption else None,
        Tracer.gcMs - gc0, Tracer.codegen._1 - cc0)
      run.log(f"registry pass ${passes.size} traced=$on ${(nowMs - t0) / 1000}%.3f s")
    }
    tracer.active = tracer.traced
    val timed = if (tracer.traced) passes.filter(_.traced).toSeq else passes.toSeq
    run.put("queries.pipelines_warm_s",
      median(timed.map(_.perEntry.filter(e => Pipelines.contains(e._1)).map(_._2).sum)), "s")
    if (!tracer.traced) return

    tracer.drain()
    // (traced pass, mean of the untraced passes either side of it)
    val pairs = passes.indices.filter(passes(_).traced)
      .map(i => (passes(i).s, (passes(i - 1).s + passes(i + 1).s) / 2))
    run.put("trace.overhead_ms", median(pairs.map(p => p._1 - p._2)) * 1000, "ms")
    run.put("trace.overhead_pct", median(pairs.map(p => 100 * (p._1 - p._2) / p._2)), "%")
    Families.foreach { f =>
      run.put(s"queries.$f.warm_s",
        median(timed.map(_.perEntry.filter(e => family(e._1) == f).map(_._2).sum).toSeq), "s")
    }
    def perPass(f: (Pass, Span, Seq[JobRec]) => Double): Double =
      median(timed.flatMap(p => p.span.map(s => f(p, s, tracer.jobsUnder(s.id)))).toSeq)
    val sites = timed.flatMap(p => p.span.toSeq.flatMap(s => tracer.jobsUnder(s.id)))
      .groupBy(_.callSite.takeWhile(_ != ' ')).map { case (k, v) => s"$k=${v.size}" }
    run.log(s"registry job call sites: ${sites.mkString(", ")}")
    val isMaterialize = (j: JobRec) =>
      j.callSite.startsWith("localCheckpoint") || j.callSite.startsWith("checkpoint")
    run.put("queries.materialize_jobs", perPass((_, _, js) => js.count(isMaterialize).toDouble), "count")
    def phase(g: Phases => Long) = perPass((_, s, _) => tracer.phasesIn(s).map(g).sum.toDouble)
    run.put("engine.analysis_ms", phase(_.analysis), "ms")
    run.put("engine.optimization_ms", phase(_.optimization), "ms")
    run.put("engine.planning_ms", phase(_.planning), "ms")
    run.put("engine.jobs", perPass((_, _, js) => js.size.toDouble), "count")
    run.put("engine.stages", perPass((_, _, js) => tracer.stagesOf(js).size.toDouble), "count")
    run.put("engine.tasks", perPass((_, _, js) => tracer.stagesOf(js).map(_.tasks).sum.toDouble), "count")
    run.put("engine.job_union_ms", perPass((_, _, js) => Tracer.jobUnionMs(js)), "ms")
    run.put("engine.driver_gap_ms", perPass { (_, s, js) =>
      val ph = tracer.phasesIn(s)
      s.ms - Tracer.jobUnionMs(js) - ph.map(p => p.analysis + p.optimization + p.planning).sum
    }, "ms")
    def stage(g: StageRec => Long) = perPass((_, _, js) => tracer.stagesOf(js).map(g).sum.toDouble)
    run.put("engine.shuffle_write_bytes", stage(_.shuffleWrite), "bytes")
    run.put("engine.shuffle_read_bytes", stage(_.shuffleRead), "bytes")
    run.put("engine.task_run_ms", stage(_.runMs), "ms")
    run.put("engine.gc_ms", stage(_.gcMs), "ms")
    run.put("engine.codegen_compiles_warm", median(timed.map(_.compiles.toDouble).toSeq), "count")
    run.put("jvm.gc_ms", median(timed.map(_.gcMs.toDouble).toSeq), "ms")
  }

  /** Record expected outputs for every registry entry: rows and hash at
    * the session's core count and again at one core fewer, plus a warm
    * time used to split each family into halves. */
  def record(mk: Int => SparkSession, cores: Int, dir: String, out: File): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    def pass(n: Int, timed: Boolean): Map[String, (Long, String, Double)] =
      names.grouped(40).flatMap { shard =>
        val spark = mk(n)
        val res = shard.map { name =>
          val r = try {
            val df = () => SparkEntry.queries(name)(spark, dir)
            val ms = if (timed) {
              df().write.format("noop").mode("overwrite").save(); sweep(spark)
              val t0 = nowMs
              df().write.format("noop").mode("overwrite").save()
              nowMs - t0
            } else 0.0
            sweep(spark)
            val (rows, hash) = rowsAndHash(df())
            sweep(spark)
            Some(name -> (rows, hash, ms))
          } catch { case e: Throwable =>
            System.err.println(s"[record] $name failed: $e"); None
          }
          System.err.println(s"[record] cores=$n $name ${r.map(_._2)}")
          r
        }
        graft.queries.SharedRels.clear(spark)
        spark.stop()
        res.flatten
      }.toMap
    val a = pass(cores, timed = true)
    val b = pass(math.max(1, cores - 1), timed = false)
    val rows = a.toSeq.sortBy(_._1).flatMap { case (n, (r, h, ms)) =>
      b.get(n).filter(_._1 == r).map { case (_, h2, _) =>
        f""""$n":{"rows":$r,"hash":"$h","stable":${h == h2},"ms":$ms%.1f}"""
      }
    }
    java.nio.file.Files.write(out.toPath, rows.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
  }
}
