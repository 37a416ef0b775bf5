package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{RawZone, SchemaAlign, Writer}

/** The reference's daily DAG (oura_dag.py: extract → transform → load),
  * end-to-end as one graft program.
  *
  * Per run: for each source, plan the incremental extraction window
  * (extract.py:170-177), land raw JSON in the range-encoded zone
  * (load.py:46-63), read back the landed range (load.py:226-323),
  * flatten + day-parse (transform.py:17-111), full-outer-combine the
  * per-source daily frames (transform.py:130-153), align to the
  * warehouse schema and append day-partitioned (load.py:91-207).
  *
  * `extractSource` stands in for the Oura HTTP API: any function
  * producing the source's rows for a date window — in production a
  * connector, in tests a slice of the events table.
  */
object HealthPipeline {

  /** `chunkDays` follows the reference's stepping (RawZone.chunkWindow):
    * `chunk_end = min(start + chunkDays, end)` then `chunk_end + 1` — a
    * "7-day" chunk lands 8-day-inclusive `{start}_{end}` dirs. Raw
    * zones landed before round 5 used 7-day dirs; day coverage is
    * identical and resume handles the transition, but external tooling
    * keyed on dir names should expect the new stride. */
  final case class SourceDef(
      name: String,
      extractSource: (LocalDate, LocalDate) => DataFrame,
      chunkDays: Option[Int] = None)

  val rawSchema: StructType = StructType(Seq(
    StructField("day", StringType),
    StructField("metric", StructType(Seq(
      StructField("n", LongType), StructField("total", DoubleType))))))

  /** One scheduled run. Returns the days appended (empty = up to date).
    *
    * Append-only contract (same as the reference's WRITE_APPEND model):
    * the warehouse watermark is the global max landed day, so a source
    * ADDED after other sources have landed days will not back-fill its
    * history into already-written rows — rebuild the warehouse (or
    * backfill offline) when adding a source. */
  def runOnce(spark: SparkSession, zoneRoot: String, warehousePath: String,
              sources: Seq[SourceDef], today: LocalDate): Seq[String] = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    // 1. extract+land every source that has new days (chunked if asked)
    sources.foreach { src =>
      RawZone.nextExtractionWindow(spark, zoneRoot, src.name, today).foreach {
        case (start, end) =>
          val windows = src.chunkDays match {
            case Some(cd) => RawZone.chunkWindow(start, end, cd)
            case None => Seq((start, end))
          }
          windows.foreach { case (s, e) =>
            RawZone.write(src.extractSource(s, e), zoneRoot, src.name, s, e)
          }
      }
    }

    // Warehouse watermark first (metadata-only on the day-partitioned
    // table) so the raw read below is windowed — otherwise every run
    // re-parses the entire landed history to append one day.
    val whPath = new org.apache.hadoop.fs.Path(warehousePath)
    val whFs = whPath.getFileSystem(hadoopConf)
    // "exists but empty" (failed first append, pre-created dir) must
    // count as first run, not wedge every retry on an unreadable read
    val whExists = whFs.exists(whPath) && whFs.listStatus(whPath)
      .exists(st => !st.getPath.getName.startsWith("_temporary"))
    // cast: the day PARTITION column reads back type-inferred as DATE
    val watermark: Option[LocalDate] =
      if (!whExists) None
      else Writer.existingDays(spark, warehousePath)
        .agg(max(col("day").cast(StringType))).collect().headOption
        .flatMap(r => Option(r.getString(0))).map(LocalDate.parse)

    // 2. transform: read each source's landed range FROM THE WATERMARK
    //    (inclusive margin of 1 day), flatten the nested metric struct,
    //    keep valid days
    val daily = sources.map { src =>
      val ranges = RawZone.listRanges(spark, zoneRoot, src.name)
      if (ranges.isEmpty) None
      else {
        val readFrom = watermark.map(_.plusDays(1)) match {
          case Some(w) if w.isAfter(ranges.head.start) => w
          case _ => ranges.head.start
        }
        if (readFrom.isAfter(ranges.last.end)) None
        else {
          val raw = RawZone.readRange(spark, zoneRoot, src.name,
            readFrom, ranges.last.end, rawSchema)
          val flat = Flatten.flatten(raw) // day, metric__n, metric__total
          val valid = Flatten.withDay(flat, "day")
          Some(valid.select(
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("metric__n").as(s"${src.name}__n"),
            col("metric__total").as(s"${src.name}__total")))
        }
      }
    }.flatten
    if (daily.isEmpty) return Seq.empty

    // 3. combine on day; 4. incremental vs warehouse; 5. align + append
    val combined = CombineDaily.combine(daily)
    val target = StructType(
      StructField("day", StringType) +: sources.flatMap(s => Seq(
        StructField(s"${s.name}__n", LongType),
        StructField(s"${s.name}__total", DoubleType))))
    val aligned = SchemaAlign.align(combined, target)

    // Watermark filter (the raw read above already windowed, but the
    // margin day could re-enter — filter exactly). A transient warehouse
    // read error fails the run rather than masquerading as first-run
    // (which would re-append every landed day — permanent duplicates).
    val fresh = watermark match {
      case None => aligned
      case Some(w) => aligned.filter(col("day") > w.toString)
    }

    // persist: newDays-collect and the append would otherwise evaluate
    // the whole extract→combine plan twice
    fresh.persist()
    try {
      val newDays = fresh.select(col("day")).distinct()
        .orderBy(col("day")).collect().map(_.getString(0)).toSeq
      if (newDays.nonEmpty) Writer.appendByDay(fresh, warehousePath)
      newDays
    } finally fresh.unpersist()
  }
}
