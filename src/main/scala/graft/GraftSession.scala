package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built. Every session carries
  * `GraftExtensions`, UTC, the hash-aggregate fallback threshold, the
  * codegen cache size and the log levels; [[local]] adds the local-run
  * shape the mains and specs use, [[service]] keeps the launcher's master
  * for the running service.
  */
object GraftSession {

  /** Core count of a local session: `SPARK_GRAFT_CPUS`, else every core
    * this JVM sees. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def shared(): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      // collect_list aggs (report counters) fall back to sort-based after
      // 128 in-memory keys by default — far too conservative for small
      // per-key buffers; keep them hash-based.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // Static conf, default 100 entries: even a 40-query bench shard
      // generates several hundred whole-stage classes; 5000 holds a
      // shard's worth many times over, so warm passes never recompile.
      .config("spark.sql.codegen.cache.maxEntries", "5000")

  private def quiet(spark: SparkSession): SparkSession = {
    spark.sparkContext.setLogLevel("WARN")
    // Unpersisting a localCheckpoint'ed RDD logs a WARN per RDD ("lineage
    // has been truncated and cannot be recomputed") — correct, but no
    // query re-reads another query's checkpoint. Drop that logger to ERROR.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Local session on `cores` threads with one shuffle partition per core. */
  def local(cores: Int = cpus): SparkSession =
    quiet(shared()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // testdata parquet files are single-digit-MB; the default 128 MB
      // split size scans each as ONE partition, serializing every query.
      // At real scale the default is correct — this is local parallelism.
      .config("spark.sql.files.maxPartitionBytes", "2097152")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.ui.enabled", "false")
      // spark.cleaner.periodicGC.interval stays at its 30-minute default
      // on purpose: a short interval forces full driver GCs during timed
      // queries (measured +30 s of roving spikes across a full bench run).
      .getOrCreate())

  /** Service session: under spark-submit the master comes from the
    * launcher; standalone runs fall back to all local cores. */
  def service(appName: String): SparkSession = {
    val b = shared().appName(appName)
    quiet((if (sys.props.contains("spark.master")) b else b.master("local[*]"))
      .getOrCreate())
  }
}
