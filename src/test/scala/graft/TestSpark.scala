package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for all suites (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      // saveAsTable targets (BucketedJoinSpec) land in a scratch
      // warehouse, not the repo working dir
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Set runtime confs for the duration of `body`, then restore the
    * prior values (unset keys are unset again). */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** `df`, after checking it is a graph kernel's driver-replay output
    * (a local relation) and not its distributed loop's — a parity test
    * whose fast side silently fell back would compare a path with
    * itself. */
  def onDriver(df: DataFrame): DataFrame = {
    val plan = org.apache.spark.sql.graft.ColumnBridge.logicalPlan(df)
    assert(plan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      s"expected the driver replay's local relation, got:\n$plan")
    df
  }
}
