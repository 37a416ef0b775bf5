package graftbench

import java.io.File
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.HealthPipeline
import graft.operators.HealthPipeline.SourceDef
import graft.sources.Writer

/** The reference's daily DAG per tenant. Long-lived tenants start from
  * what a year of daily runs left (landed one-day windows and the
  * warehouse) and catch up one day per run; once the phase has run its
  * seconds, one new tenant is onboarded, whose first run backfills 365
  * days. The generated source rows stand in for the device API: a
  * window's rows are served from memory, so extraction costs what a
  * connector hand-off costs and the time goes to graft. */
final class HealthDaily(spark: SparkSession, args: Main.Args, prefix: String) extends Workload {
  private val meta = new ObjectMapper().readTree(new File(s"${args.inputs}/health.json"))
  private def strings(k: String) = meta.get(k).elements().asScala.map(_.asText).toSeq
  private val sourceNames = strings("sources")
  private val longTenants = strings("long_tenants")
  private val newTenants = strings("tenants").filterNot(longTenants.contains)
  private val historyStart = LocalDate.parse(meta.get("history_start").asText)
  private val historyEnd = LocalDate.parse(meta.get("history_end").asText)
  private val lastSourceDay = LocalDate.parse(meta.get("last_source_day").asText)

  private val rnd = new scala.util.Random(args.seed)
  private var rows: Map[(String, String), Array[(LocalDate, Long, Double)]] = Map.empty
  private val today = scala.collection.mutable.LinkedHashMap[String, LocalDate]()
  private var nextNew = 0
  private var lastDaily: Option[String] = None

  def zoneRoot(t: String) = s"$prefix${args.inputs}/zone/$t"
  def warehouse(t: String) = s"$prefix${args.inputs}/warehouse/$t"
  def outputRoots: Seq[String] = today.keys.toSeq.flatMap(t => Seq(zoneRoot(t), warehouse(t)))

  /** Landed range directories and warehouse data files at the end. */
  override def layerMetrics(ops: Seq[Op], spans: Spans): Map[String, Double] = Map(
    "sources.zone_dirs" -> today.keys.toSeq.flatMap(t => sourceNames.map { s =>
      Option(new File(s"${args.inputs}/zone/$t/$s").listFiles()).map(_.count(_.isDirectory))
        .getOrElse(0).toDouble
    }).sum,
    "sources.warehouse_files" -> today.keys.toSeq.map(t => Main.dataFiles(warehouse(t))).sum.toDouble)

  private def extract(tenant: String, source: String)(start: LocalDate, end: LocalDate): DataFrame = {
    val inWindow = rows.getOrElse((tenant, source), Array.empty)
      .filter { case (d, _, _) => !d.isBefore(start) && !d.isAfter(end) }
      .map { case (d, n, total) => Row(d.toString, Row(n, total)) }
    spark.createDataFrame(inWindow.toSeq.asJava, HealthPipeline.rawSchema)
  }

  private def sources(tenant: String): Seq[SourceDef] = sourceNames.map { s =>
    SourceDef(s, extract(tenant, s), chunkDays = if (s == "heartrate") Some(7) else None)
  }

  private def runFor(tenant: String, day: LocalDate): Seq[String] =
    HealthPipeline.runOnce(spark, zoneRoot(tenant), warehouse(tenant), sources(tenant), day)

  def setup(): Unit = {
    rows = spark.read.parquet(s"${args.inputs}/sources.parquet").collect().toSeq
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, rs) =>
        k -> rs.map(r => (LocalDate.parse(r.getString(2)), r.getLong(3), r.getDouble(4)))
          .sortBy(_._1.toEpochDay).toArray
      }
    longTenants.foreach(t => today(t) = historyEnd.plusDays(1))
  }

  def next(spans: Option[Spans], timeUp: Boolean): (String, Long) =
    if (timeUp && nextNew < newTenants.size) {
      val t = newTenants(nextNew)
      nextNew += 1
      val day = historyStart.plusDays(366)
      today(t) = day
      ("backfill", runFor(t, day).size.toLong)
    } else {
      val open = longTenants.filter(t => today(t).isBefore(lastSourceDay))
      val t = open(rnd.nextInt(open.size))
      val day = today(t).plusDays(1)
      today(t) = day
      lastDaily = Some(t)
      ("daily", runFor(t, day).size.toLong)
    }

  override def hasNext: Boolean = longTenants.exists(t => today(t).isBefore(lastSourceDay))

  override def phaseComplete(ops: Seq[Op]): Boolean =
    nextNew >= newTenants.size || ops.exists(_.kind == "backfill")

  /** Until the last three daily runs agree within 25%. */
  def settled(ops: Seq[Op]): Boolean = {
    val daily = ops.filter(_.kind == "daily").map(_.seconds)
    daily.size >= 3 && {
      val last = daily.takeRight(3)
      last.max / last.min < 1.25
    }
  }

  /** Re-running the last caught-up tenant on its current day must
    * append nothing; the warehouse contents themselves are checked
    * against the generated rows outside the JVM. */
  def check(): Map[String, Any] = {
    val rerun = lastDaily.forall { t =>
      val before = Writer.readTable(spark, warehouse(t)).count()
      val appended = runFor(t, today(t))
      appended.isEmpty && Writer.readTable(spark, warehouse(t)).count() == before
    }
    Map(
      "rerun_appends_nothing" -> rerun,
      "tenants" -> today.toSeq.map { case (t, d) =>
        Map("tenant" -> t, "warehouse" -> new Path(warehouse(t)).toUri.getPath,
          "first_day" -> (if (longTenants.contains(t)) historyStart else d.minusDays(366)).toString,
          "last_day" -> d.minusDays(1).toString)
      })
  }
}
