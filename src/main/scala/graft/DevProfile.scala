package graft

/** Dev profiling loop: runs one registered query N times in a single
  * session and prints per-iteration seconds, separating plan/codegen
  * warm-up from steady-state execution. Usage:
  *   runMain graft.DevProfile <sfDir> <queryName> [n] [--jobs]
  * The formatted plan comes from [[PlanDump]].
  */
object DevProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val n = if (args.length > 2 && !args(2).startsWith("--")) args(2).toInt else 3
    val spark = GraftSession.local()
    val fn = SparkEntry.queries(name)
    // total shuffle write across the query's stages — the number a
    // key-width change actually moves (wall time at sf0.1 hides inside
    // the host band; exchanged bytes do not)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val stageCount = new java.util.concurrent.atomic.AtomicLong(0L)
    // per-JOB intervals: iterative operators issue dozens of tiny driver
    // jobs (collects, localCheckpoints, per-round aggregates); the gap
    // between job time and iteration wall time is driver-side
    // (planning/codegen), which explain() never shows
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    // (jobId, startMs, endMs, jobGroup): entries are tagged with the job
    // group the job STARTED under, so late-arriving events from a previous
    // iteration are filtered by tag instead of racing a clear() + sleep
    // (the async bus can deliver job-ends across the iteration boundary
    // on a loaded host)
    val jobGroups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          shuffleBytes.addAndGet(
            s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          stageCount.incrementAndGet()
          ()
        }
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobStart.put(j.jobId, j.time)
          jobGroups.put(j.jobId,
            Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
              .getOrElse(""))
          ()
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobStart.remove(j.jobId)).foreach { t0 =>
            jobLog.add((j.jobId, t0, j.time,
              Option(jobGroups.remove(j.jobId)).getOrElse("")))
          }
          ()
        }
      })
    (1 to n).foreach { i =>
      shuffleBytes.set(0L); stageCount.set(0L)
      val group = s"devprofile-iter-$i"
      spark.sparkContext.setJobGroup(group, s"$name iter $i")
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      spark.sparkContext.clearJobGroup()
      // listener events drain asynchronously; give the bus a beat
      // (listenerBus.waitUntilEmpty is private[spark])
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val logged = jobLog.asScala.toSeq
      val jobs = logged.filter(_._4 == group).sortBy(_._1)
      // jobs submitted from threads that do not inherit the job group
      // (broadcast exchanges set their own) are outside `jobs`; count the
      // ones that started inside this iteration so an undercount shows
      val untagged = logged.count(j =>
        !j._4.startsWith("devprofile-iter-") && j._2 >= w0 && j._2 <= w1)
      // union of the job intervals: concurrent jobs overlap, so their
      // summed durations can exceed wall time
      val jobUnion = jobs.map(j => (j._2, j._3)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, end), (s, e)) =>
          if (e <= end) (acc, end)
          else (acc + e - math.max(s, end), e)
        }._1 / 1e3
      println(f"[profile] $name iter $i: $dt%.3f s " +
        f"shuffle=${shuffleBytes.get() / 1048576.0}%.1f MiB " +
        f"jobs=${jobs.size} untagged=$untagged stages=${stageCount.get()} " +
        f"jobUnion=$jobUnion%.3f s driverGap=${dt - jobUnion}%.3f s")
      if (args.contains("--jobs"))
        println("[profile]   job times: " + jobs.map {
          case (id, s, e, _) => f"$id:${(e - s) / 1e3}%.2f" }.mkString(" "))
    }
    spark.stop()
  }
}
