package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for a list of registered queries to
  * files — the plan evidence the optimization rounds commit under
  * `plans/r<N>/`. Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> <query...>
  * writes <outDir>/<query>_<suffix>.txt per query. Plans are built (not
  * executed) in the local session shape [[Bench]] runs, so this is cheap
  * and load-independent.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names @ _*) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plan] wrote $name ($suffix)")
      } catch { case e: Throwable =>
        println(s"[plan] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
