package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.sources.{Tables, VersionLog}

/** Incremental crawl-frontier state (SURVEY.md §2 row 262) — the
  * crawl family's entry into the "incremental everything" story
  * (GraphState/NoveltyState posture): a persisted per-URL fetch
  * ledger, advanced by delta commits, that turns discovery output
  * (rows 247/260/239) into the NEXT cycle's frontier: a discovered
  * URL is `new` (never fetched), `recrawl` (stale beyond the recrawl
  * horizon — the row-2 watermark idea keyed by URL), or `fresh`
  * (skip). This is the state a continuous crawler carries between
  * cycles; without it every cycle refetches the world.
  *
  * Layout: `root/fetched/v=<n>/<token>` — the merged ledger per
  * version (url_canon, host, last_fetch_day), advanced by
  * [[commitFetched]]'s max-day merge and committed through
  * [[graft.sources.VersionLog]] as a whole version (written in place,
  * then `commits/v<n>` claimed and `LATEST` flipped; readers resolve
  * the newest marker and never write); every version is kept. The
  * merge is ONE map-side-combined groupBy on url_canon; the rewrite is
  * bounded by the URL universe (the ranks posture — a delta layout via
  * [[graft.sources.StateStore]] is the graduation if the universe
  * outgrows rewrites). [[frontier]] is one equi-join of discovery
  * against the ledger — no window, no driver state; day arithmetic
  * on DATE, never string math. */
object CrawlState {

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def home(root: String)(v: Long) = new Path(s"$root/fetched/v=$v")

  /** The ledger at the latest version (empty-schema frame for an
    * untouched root). */
  def ledger(spark: SparkSession, root: String): DataFrame =
    ledgerAt(spark, root, VersionLog.latest(fsOf(spark, root), root))

  private def ledgerAt(spark: SparkSession, root: String, v: Option[Long]): DataFrame =
    v match {
      case Some(v) => spark.read.parquet(VersionLog.dir(fsOf(spark, root), root, v, home(root)))
      case None => spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq("url_canon", "host", "last_fetch_day")
          .map(StructField(_, StringType))))
    }

  /** Merge one cycle's fetch records (url_canon, host, day — ISO
    * strings) into the ledger as the next version: per URL the MAX
    * fetch day survives (re-fetches advance, replays are idempotent).
    * Two overlapping cycles cannot both land version `n` and silently
    * drop one delta: the log lets exactly one claim it, and the loser
    * discards its merge and fails loudly, to retry from the advanced
    * ledger. A merge that throws leaves no claim behind. */
  def commitFetched(spark: SparkSession, fetched: DataFrame,
                    root: String): Long = {
    val (v, won) = VersionLog.commitNext(fsOf(spark, root), root, home(root)) { (cur, dir) =>
      ledgerAt(spark, root, cur)
        .unionByName(fetched.select(col("url_canon"), col("host"),
          col("day").as("last_fetch_day")))
        .groupBy(col("url_canon"))
        .agg(max(col("host")).as("host"),
          max(col("last_fetch_day")).as("last_fetch_day"))
        .select(col("url_canon"), col("host"), col("last_fetch_day"))
        .write.parquet(dir)
    }
    if (!won) throw new java.util.ConcurrentModificationException(
      s"ledger version $v under $root was committed by another writer — " +
        "retry against the advanced ledger")
    v
  }

  /** The next cycle's frontier: discovery rows against the ledger —
    * every DISCOVERY column passes through (url_canon required;
    * priority_ppm/pos/loc_canon ride along untouched so the output
    * feeds [[Robots.schedulePlan]] directly), plus last_fetch_day,
    * status and the due verdict. A URL is stale once
    * last_fetch_day + recrawlDays <= today. */
  def frontier(spark: SparkSession, discovered: DataFrame, root: String,
               today: String, recrawlDays: Int): DataFrame = {
    require(recrawlDays >= 1, s"recrawlDays must be >= 1, got $recrawlDays")
    val led = ledger(spark, root).select(col("url_canon"), col("last_fetch_day"))
    val passthrough = discovered.columns.map(col).toSeq
    // a discovery `lastmod` column (the row-247 sitemap field) adds
    // the CHANGED verdict: the source declares content newer than our
    // fetch — due immediately, ahead of the staleness horizon (checked
    // before recrawl: a changed-AND-stale URL reports the stronger
    // reason)
    val changed =
      if (discovered.columns.contains("lastmod"))
        col("lastmod") =!= "" &&
          to_date(col("lastmod")) > to_date(col("last_fetch_day"))
      else lit(false)
    discovered.join(led, Seq("url_canon"), "left")
      .withColumn("status",
        when(col("last_fetch_day").isNull, "new")
          .when(changed, "changed")
          .when(date_add(to_date(col("last_fetch_day")), recrawlDays) <=
            to_date(lit(today)), "recrawl")
          .otherwise("fresh"))
      .select(passthrough ++ Seq(
        coalesce(col("last_fetch_day"), lit("")).as("last_fetch_day"),
        col("status"), (col("status") =!= "fresh").as("due")): _*)
  }

  /** §2 row 262 — two real on-disk fetch deltas (even ids day
    * 2025-01-10, odd ids day 2025-01-20; doc 0's URL refetched in the
    * second delta so max-day merge is exercised), then the cycle-2
    * frontier at 2025-01-25 with a 10-day horizon: every 3rd doc's
    * sitemap declares lastmod 2025-01-22 → `changed` (for doc 0:
    * changed but NOT stale — the lastmod path alone makes it due),
    * other evens are stale → recrawl, other odds fresh → skip, and
    * every 7th doc discovers an /extra/ URL never fetched → new. */
  def crawlFrontierQ(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_crawl_state").toString
    val docs = Tables.documents(s, d)
    val host = concat(lit("www."), lower(col("source")), lit(".com"))
    val url = concat(lit("https://"), host, lit("/d/"), col("doc_id").cast("string"))
    val base = docs.select(host.as("host"), url.as("url_canon"), col("doc_id"))
    commitFetched(s, base.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("url_canon"), col("host"), lit("2025-01-10").as("day")), root)
    commitFetched(s, base.filter(pmod(col("doc_id"), lit(2)) === 1 ||
        col("doc_id") === 0L) // doc 0 refetched: max-day merge on a live key
      .select(col("url_canon"), col("host"), lit("2025-01-20").as("day")), root)
    val lastmod = when(pmod(col("doc_id"), lit(3)) === 0, "2025-01-22")
      .otherwise("")
    val discovered = base.select(col("host"), col("url_canon"),
        lastmod.as("lastmod"))
      .unionByName(base.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("host"),
          concat(lit("https://"), col("host"), lit("/extra/"),
            col("doc_id").cast("string")).as("url_canon"),
          lit("").as("lastmod")))
    frontier(s, discovered, root, today = "2025-01-25", recrawlDays = 10)
      .orderBy(col("host"), col("url_canon"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_crawl_frontier" -> (crawlFrontierQ _))

  val oracles: Map[String, String] = Map(
    // the two-delta merge replayed inline: per-URL max fetch day is a
    // pure function of doc parity (doc 0 takes the LATER day), the
    // staleness CASE in DATE arithmetic
    "q_crawl_frontier" ->
      """WITH base AS (
        |  SELECT 'www.' || lower(source) || '.com' AS host,
        |    'https://www.' || lower(source) || '.com/d/'
        |      || CAST(doc_id AS VARCHAR) AS url_canon,
        |    doc_id
        |  FROM documents),
        |led AS (
        |  SELECT url_canon, host,
        |    CASE WHEN doc_id % 2 = 1 OR doc_id = 0
        |         THEN '2025-01-20' ELSE '2025-01-10' END AS last_fetch_day
        |  FROM base),
        |disc AS (
        |  SELECT host, url_canon,
        |    CASE WHEN doc_id % 3 = 0 THEN '2025-01-22' ELSE '' END AS lastmod
        |  FROM base
        |  UNION ALL
        |  SELECT host,
        |    'https://' || host || '/extra/' || CAST(doc_id AS VARCHAR),
        |    ''
        |  FROM base WHERE doc_id % 7 = 0)
        |SELECT d.host, d.url_canon, d.lastmod,
        |  COALESCE(l.last_fetch_day, '') AS last_fetch_day,
  -- TRY_CAST: DuckDB's AND does not short-circuit, so a plain CAST
        |  -- of the '' lastmod sentinel would error before the guard runs
        |  CASE WHEN l.last_fetch_day IS NULL THEN 'new'
        |       WHEN COALESCE(TRY_CAST(d.lastmod AS DATE)
        |            > TRY_CAST(l.last_fetch_day AS DATE), FALSE)
        |            THEN 'changed'
        |       WHEN TRY_CAST(l.last_fetch_day AS DATE) + INTERVAL 10 DAY
        |            <= DATE '2025-01-25' THEN 'recrawl'
        |       ELSE 'fresh' END AS status,
        |  (l.last_fetch_day IS NULL
        |   OR COALESCE(TRY_CAST(d.lastmod AS DATE)
        |        > TRY_CAST(l.last_fetch_day AS DATE), FALSE)
        |   OR COALESCE(TRY_CAST(l.last_fetch_day AS DATE) + INTERVAL 10 DAY
        |     <= DATE '2025-01-25', FALSE)) AS due
        |FROM disc d LEFT JOIN led l ON d.url_canon = l.url_canon
        |ORDER BY d.host, d.url_canon""".stripMargin)
}
