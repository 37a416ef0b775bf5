package graft

import java.nio.file.{Files, Paths}

/** Optimization-round instrumentation: dump `.explain("formatted")` for a
  * set of registered queries into files — the plan artifacts the round-15
  * deliverables require (plans/r15/<query>_{before,after}.txt). Pure
  * read-only over SparkEntry.queries; never touches results.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> q_a,q_b,...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        System.err.println(s"[plandump] wrote $name ($suffix)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      } finally spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
