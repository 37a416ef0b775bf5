package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** A read-only mix of registered, oracle-backed events queries in seeded
  * order. Each query is consumed in full through Spark's `noop` sink:
  * `count()` lets the optimizer prune the very work a query exists to
  * do (q_flatten_json measured 0.33 s under count() against 17 s on
  * its full output at 10M events on 4 cores). */
final class EventsScan(spark: SparkSession, args: Main.Args, prefix: String) extends Workload {
  val mix: Seq[String] = EventsScan.Mix
  private val dir = s"$prefix${args.inputs}"
  private val rnd = new scala.util.Random(args.seed)
  private var order: Seq[String] = Seq.empty
  private var inputRows = 0L

  def outputRoots: Seq[String] = Seq.empty

  def setup(): Unit = {
    inputRows = spark.read.parquet(s"$dir/events.parquet").count()
  }

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  private val checkDir = s"${args.work}/check"
  private val written = scala.collection.mutable.Set[String]()

  /** The first pass over the mix writes each query's full output as
    * parquet for the oracle check (untimed warm-up); every later pass
    * consumes it through the `noop` sink. */
  def next(spans: Option[Spans], timeUp: Boolean): (String, Long) = {
    if (order.isEmpty) order = rnd.shuffle(mix)
    val name = order.head
    order = order.tail
    val df = query(name)
    spans match {
      case Some(s) =>
        s.time("plan")(df.queryExecution.executedPlan)
        s.time(name)(df.write.format("noop").mode("overwrite").save())
      case None if !written(name) =>
        df.write.mode("overwrite").parquet(s"$checkDir/$name")
        written += name
        return ("check:" + name, inputRows)
      case None => df.write.format("noop").mode("overwrite").save()
    }
    (name, inputRows)
  }

  /** One full pass: the first run of each query pays its code
    * generation and class loading. */
  def settled(ops: Seq[Op]): Boolean = written.size == mix.size

  /** Every query at least twice, so each has a median of its own. */
  override def phaseComplete(ops: Seq[Op]): Boolean =
    mix.forall(q => ops.count(_.kind == q) >= 2)

  override def layerMetrics(ops: Seq[Op], spans: Spans): Map[String, Double] =
    Map("plan_s_per_query" -> spans.mean("plan")) ++
      mix.map(q => s"events.${q}_s" -> Stats.median(spans.values(q)))

  /** The outputs written in warm-up, beside each query's DuckDB oracle
    * SQL; the comparison runs outside the JVM. */
  def check(): Map[String, Any] = {
    new ObjectMapper().writeValue(new File(s"$checkDir/oracle.json"),
      mix.map(q => q -> SparkEntry.oracleSql(q)).toMap.asJava)
    Map("outputs" -> checkDir, "queries" -> mix)
  }
}

object EventsScan {
  val Mix: Seq[String] = Seq(
    "q_daily_rollup", "q_combined_daily", "q_sessionize", "q_gap_days",
    "q_overlap_detect", "q_range_overlap", "q_hourly_events", "q_flatten_json")
}
