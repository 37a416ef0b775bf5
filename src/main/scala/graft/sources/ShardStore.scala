package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-style maintenance for the landed shard table
  * ([[graft.operators.TrainingPipeline.writeShards]] layout: parquet
  * partitioned by (split, lang), rows clustered by (bin, doc_id)).
  *
  * Incremental ingests APPEND — shipped files are immutable — and
  * retractions land as a `_tombstones` side table (underscore-prefixed,
  * so Spark's parquet reader never sees it as data). [[read]] applies
  * tombstones logically (one anti-join, AQE broadcasts the small side);
  * [[compact]] applies them physically and merges the small files
  * appends accumulate — the read path's anti-join cost and the
  * file-open cost both reset to zero.
  *
  * Every change is a version: data lives under `root/v<N>/<token>/`,
  * and [[init]] and [[compact]] commit a whole table through
  * [[VersionLog]], the protocol every versioned store shares: the
  * table is written in its final home, then `commits/v<N>` is claimed
  * (the marker names the token) and `LATEST` flips — nothing moves
  * after the claim. Appends and tombstones have ONE landing path: they
  * are written under a writer-private stage, checked, and moved file
  * by file into the live version. A corpus ingest batch stages them
  * inside its state version ([[StateStore]]), so the state claim
  * decides the batch's shard files too
  * ([[graft.streaming.CorpusIngest.ingestBatch]]); the standalone
  * [[append]] and [[addTombstones]] stage under `root/staging/` and
  * claim nothing. Landed files become visible one move at a time, so a
  * batch that crashed mid-moves shows part of its rows until the next
  * batch heals it (as a Spark append's job commit did). A reader never
  * sees a missing or half-written table: it resolves the live version
  * once ([[dataDir]], read-only) and reads an immutable complete
  * version dir. This store's
  * retention: the PREVIOUS version is kept until the next compaction
  * as a grace copy, so a reader that resolved the old version
  * mid-compact finishes its scan against intact files; only versions
  * two compactions old are deleted. (Disk high-water mark: 2× the
  * table between compactions — the price of lock-free readers; a
  * transactional format (Delta/Iceberg) with snapshot retention is the
  * deployment-scale graduation and this object's surface maps 1:1
  * onto it: append = append, tombstone = delete, compact = OPTIMIZE.)
  *
  * [[init]] lands `v0`; the first [[append]] or ingest batch to a root
  * that does not exist yet commits an empty `v0` and lands in it. A
  * root whose log holds no committed version is not a shard table:
  * every reader and writer fails loudly on it.
  *
  * Concurrency contract: READERS are lock-free at any time (the
  * version log + grace copy above); COMPACTORS may race — exactly one
  * wins each version and the others report its outcome; APPENDS are
  * single-threaded — one ingest loop owns append/addTombstones/compact
  * (the [[graft.streaming.CorpusIngest]] shape). An append racing a
  * compact would land rows in the outgoing version after the rewrite
  * read them; a transactional format's optimistic commit protocol is
  * the graduation for multi-writer deployments. For the same reason
  * shard compaction stays the ingest loop's call, made after a batch
  * returns: a batch that crashed after its claim is healed by the next
  * batch, which moves the rest of its files into the shard dir
  * recorded at stage time — a compaction in between would have left
  * that dir behind.
  */
object ShardStore {

  private def tombDir(dataDir: String) = dataDir + "/_tombstones"

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Version v's home; its committed table is `root/v<N>/<token>`. */
  private def versionPath(root: String)(v: Long) = new Path(s"$root/v$v")

  /** The live version. A root whose log holds none is not a shard
    * table: fail loudly rather than read or append to it as one. */
  private def liveVersion(spark: SparkSession, root: String): Long = {
    val v = VersionLog.latest(fs(spark, root), root)
    require(v.nonEmpty, s"$root has no committed version — not a shard " +
      "table (damaged or foreign root)")
    v.get
  }

  private def versionDir(spark: SparkSession, root: String, v: Long): String =
    VersionLog.dir(fs(spark, root), root, v, versionPath(root))

  /** The LIVE data directory. Resolving it is the reader's only
    * coupling to maintenance — the dir it returns is complete and
    * immutable-under-compaction (appends do land in it,
    * file-atomically). */
  def dataDir(spark: SparkSession, root: String): String =
    versionDir(spark, root, liveVersion(spark, root))

  /** In-partition clustering strategies share one landing path so the
    * validation and writer contract cannot diverge between layouts.
    * Both sorts lead with the partition columns so the dynamic-
    * partition writer preserves them (the ShardPruningSpec lesson). */
  private val plainCluster: DataFrame => DataFrame = df =>
    df.repartition(col("split"), col("lang"))
      .sortWithinPartitions(col("split"), col("lang"), col("bin"), col("doc_id"))

  private val zCluster: DataFrame => DataFrame = df =>
    graft.operators.ZOrder.withZValueQuantile(df, "bin", "n_tokens", "__z")
      .repartition(col("split"), col("lang"))
      .sortWithinPartitions(col("split"), col("lang"), col("__z"))
      .drop("__z")

  /** Manifest rows + their text, clustered and written to `dir` — always
    * a stage or an unclaimed version home, so nothing is visible yet.
    * Fails loudly if a manifest row has no document (stale or filtered
    * input): the write observes its own row count and the manifest's,
    * which are equal because `doc_id` is unique (corpus contract), and
    * only on a shortfall looks up one missing `doc_id` for the
    * `IllegalArgumentException` — the inner join broadcasts a small
    * manifest and no separate job runs on success.
    *
    * `maxRecordsPerFile` (0 = unbounded) bounds shard-file size — the
    * knob a training-data reader wants ("one shard file ≈ one worker's
    * chunk") — and, because rows are clustered by (bin, doc_id), it
    * makes each file a contiguous bin range: a bin-range read then
    * skips whole files' row groups on parquet min/max stats
    * (ShardPruningSpec measures exactly that). */
  private def land(docs: DataFrame, manifest: DataFrame, dir: String,
                   maxRecordsPerFile: Long,
                   cluster: DataFrame => DataFrame = plainCluster): Unit = {
    val (want, got) = (Observation(), Observation())
    val rows = manifest.observe(want, count(lit(1)).as("n"))
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .observe(got, count(lit(1)).as("n"))
    cluster(rows).write.option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("split", "lang").parquet(dir)
    // a side the optimizer pruned as empty reports no count: look it up
    val n = want.get.get("n")
    if (n.isEmpty || n != got.get.get("n"))
      manifest.select(col("doc_id")).join(docs.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .head(1).foreach(r => throw new IllegalArgumentException(
          s"manifest row doc_id=${r.get(0)} has no document in `docs` — stale or filtered input?"))
  }

  /** Files staged under `stage/sub`, as (path relative to `stage`,
    * destination under `dest`); Spark's `_SUCCESS` and checksum files
    * stay behind. */
  private def movesOf(spark: SparkSession, stage: String, sub: String,
                      dest: String): Seq[(String, Path)] = {
    val f = fs(spark, stage)
    def walk(rel: String): Seq[String] = f.listStatus(new Path(s"$stage/$rel")).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) Nil
      else if (st.isDirectory) walk(s"$rel/$name")
      else Seq(s"$rel/$name")
    }
    walk(sub).map(rel => rel -> new Path(dest + rel.stripPrefix(sub)))
  }

  /** Stage one ingest's accepted rows (bins were opened past each
    * group's historical max, so clustering stays monotone across the
    * appended files) under `stage`; returns their moves into the live
    * version dir `live`. */
  private[graft] def stageRows(docs: DataFrame, accepted: DataFrame, stage: String, live: String,
                               maxRecordsPerFile: Long = 0L): Seq[(String, Path)] = {
    land(docs, accepted, s"$stage/rows", maxRecordsPerFile)
    movesOf(docs.sparkSession, stage, "rows", live)
  }

  /** Stage (doc_id, reason) retractions under `stage`; returns their
    * moves into the side table of the live version dir `live`. */
  private[graft] def stageTombstones(tombstones: DataFrame, stage: String,
                                     live: String): Seq[(String, Path)] = {
    tombstones.select(col("doc_id"), col("reason")).write.parquet(s"$stage/tombstones")
    movesOf(tombstones.sparkSession, stage, "tombstones", tombDir(live))
  }

  /** The live data dir; a root that does not exist yet first gets an
    * empty committed `v0` to land in. */
  private[graft] def liveDir(spark: SparkSession, root: String): String = {
    val f = fs(spark, root)
    if (!f.exists(new Path(root)))
      VersionLog.commitNext(f, root, versionPath(root)) { (_, dir) => f.mkdirs(new Path(dir)) }
    dataDir(spark, root)
  }

  /** Stage under `root/staging/<token>`, then move into `live`. No
    * claim: one ingest loop owns appends (see the class doc). */
  private def landLive(spark: SparkSession, root: String, live: String)
                      (stage: (String, String) => Seq[(String, Path)]): Unit = {
    val f = fs(spark, root)
    val dir = new Path(s"$root/staging/${java.util.UUID.randomUUID()}")
    val moves = try stage(dir.toString, live)
      catch { case e: Throwable => f.delete(dir, true); throw e }
    VersionLog.materialize(f, dir, moves)
  }

  /** Land the bootstrap manifest (replaces any prior table at the
    * root) as committed version 0 — the table is addressable only once
    * fully written. */
  def init(docs: DataFrame, manifest: DataFrame, root: String,
           maxRecordsPerFile: Long = 0L): Unit =
    initWith(docs, manifest, root, maxRecordsPerFile, plainCluster)

  /** [[init]] with rows clustered by the quantile Z-VALUE of
    * (bin, n_tokens) instead of plain (bin, doc_id) order — each shard
    * file then covers a small RECTANGLE of the (bin, token-length)
    * space, so parquet min/max stats prune a size-bounded bin-range
    * read ("bins 40..60, docs under 512 tokens" — the shape a
    * length-bucketed training reader issues) on BOTH predicates.
    * The single-column layout answers the same query by opening every
    * file in the bin range regardless of the token bound
    * (ShardZOrderSpec measures the gap). The trade: a pure bin-range
    * scan with no token filter prunes somewhat worse than the plain
    * layout, because rectangles split bin locality across z-cells —
    * pick the clustering for the table's dominant read shape.
    * Quantile (not uniform-width) ranks keep the cells row-balanced
    * under token-length skew ([[graft.operators.ZOrder]]). */
  def initZOrdered(docs: DataFrame, manifest: DataFrame, root: String,
                   maxRecordsPerFile: Long = 0L): Unit =
    initWith(docs, manifest, root, maxRecordsPerFile, zCluster)

  private def initWith(docs: DataFrame, manifest: DataFrame, root: String,
                       maxRecordsPerFile: Long, cluster: DataFrame => DataFrame): Unit = {
    val spark = docs.sparkSession
    val f = fs(spark, root)
    if (f.exists(new Path(root))) f.delete(new Path(root), true)
    val (_, won) = VersionLog.commitNext(f, root, versionPath(root)) { (_, dir) =>
      land(docs, manifest, dir, maxRecordsPerFile, cluster)
    }
    require(won, s"another writer initialized $root concurrently")
  }

  /** Land one ingest's accepted rows in the live version, through the
    * same stage-check-move path an ingest batch takes. */
  def append(batchDocs: DataFrame, accepted: DataFrame, root: String,
             maxRecordsPerFile: Long = 0L): Unit =
    landLive(batchDocs.sparkSession, root, liveDir(batchDocs.sparkSession, root))(
      stageRows(batchDocs, accepted, _, _, maxRecordsPerFile))

  /** Record retractions: (doc_id, reason) landed in the side table. */
  def addTombstones(tombstones: DataFrame, root: String): Unit =
    landLive(tombstones.sparkSession, root, dataDir(tombstones.sparkSession, root))(
      stageTombstones(tombstones, _, _))

  /** The live table: every landed row minus tombstoned docs. */
  def read(spark: SparkSession, root: String): DataFrame =
    readDir(spark, root, dataDir(spark, root))

  /** The live table AS OF a retained version — the versioned layout's
    * free time travel. Only the current and the immediately previous
    * version exist (the one-cycle grace retention, see the class doc);
    * asking for a reclaimed or never-written version fails loudly.
    * `versions` lists what is readable right now. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame = {
    val readable = versions(spark, root)
    require(readable.contains(version),
      s"version $version is not retained at $root — readable: " +
        readable.mkString("[", ", ", "]"))
    readDir(spark, root, versionDir(spark, root, version))
  }

  /** Version indexes currently readable, ascending (at most two: the
    * grace copy and the live version; one before the first compact). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val live = liveVersion(spark, root)
    val f = fs(spark, root)
    Seq(live - 1L, live).filter(v => v >= 0 && f.exists(new Path(versionDir(spark, root, v))))
  }

  private def readDir(spark: SparkSession, root: String, dir: String): DataFrame = {
    val all = spark.read.parquet(dir)
    if (!fs(spark, root).exists(new Path(tombDir(dir)))) all
    else all.join(
      spark.read.parquet(tombDir(dir)).select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
  }

  /** Compact when the table's maintenance debt crosses a threshold —
    * the scheduling policy an ingest loop calls after every append:
    * too many files per (split, lang) partition (file-open cost decays
    * scans) or too large a tombstoned fraction (the read-path anti-join
    * carries dead weight).
    *
    * The caller passes the doc counts it already has — `liveDocs` is
    * the state manifest's row count and `deadDocs` the tombstones it
    * has landed (both maintained by the ingest loop's own state, e.g.
    * [[graft.sources.StateStore]]) — so the debt check runs ZERO Spark
    * jobs: file and partition counts come from two directory globs
    * (no datasource resolution, no parquet footers — at very large
    * file counts even listing belongs in a manifest, which is the
    * Delta/Iceberg graduation). Returns Some(fileCount) when
    * compaction ran. */
  def maybeCompact(spark: SparkSession, root: String,
                   liveDocs: Long, deadDocs: Long,
                   maxFilesPerPartition: Int,
                   maxTombstoneFrac: Double,
                   maxRecordsPerFile: Long): Option[Int] = {
    val f = fs(spark, root)
    val dir = dataDir(spark, root)
    val partitions = math.max(1,
      f.globStatus(new Path(s"$dir/*/*")).count(_.isDirectory))
    val files = f.globStatus(new Path(s"$dir/*/*/*"))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val tombFrac = deadDocs.toDouble / math.max(1L, liveDocs + deadDocs)
    if (files > partitions.toLong * maxFilesPerPartition || tombFrac > maxTombstoneFrac)
      Some(compact(spark, root, maxRecordsPerFile))
    else None
  }

  /** [[maybeCompact]] for standalone callers WITHOUT maintained doc
    * counts: derives the dead count from the tombstone table and the
    * total from the data table's footers — two metadata-only Spark
    * jobs (documented driver cost; prefer the counted overload from an
    * ingest loop). */
  def maybeCompact(spark: SparkSession, root: String,
                   maxFilesPerPartition: Int = 16,
                   maxTombstoneFrac: Double = 0.2,
                   maxRecordsPerFile: Long = 0L): Option[Int] = {
    val dir = dataDir(spark, root)
    val dead = if (!fs(spark, root).exists(new Path(tombDir(dir)))) 0L
      else spark.read.parquet(tombDir(dir)).select(col("doc_id")).distinct().count()
    // total landed rows == live + dead docs (doc_id unique per row)
    val total = spark.read.parquet(dir).count()
    maybeCompact(spark, root, liveDocs = total - dead, deadDocs = dead,
      maxFilesPerPartition, maxTombstoneFrac, maxRecordsPerFile)
  }

  /** Physically apply tombstones and merge accumulated small files:
    * rewrite the live rows fully re-clustered and commit them as the
    * NEXT version, then drop versions two compactions old (the
    * immediately previous version is retained as the in-flight
    * readers' grace copy — see the class doc). The tombstone table
    * lives inside the version dir, so the new version starts with zero
    * tombstone debt by construction. A compaction that fails or dies
    * before its claim leaves the live version untouched and fences
    * nothing; one that loses the claim to a concurrent compactor
    * converges on the winner's version. Returns the data file count of
    * the version live afterwards. */
  def compact(spark: SparkSession, root: String,
              maxRecordsPerFile: Long = 0L): Int = {
    val f = fs(spark, root)
    val (v, won) = VersionLog.commitNext(f, root, versionPath(root)) { (cur, dir) =>
      require(cur.nonEmpty, s"$root has no committed version to compact")
      plainCluster(readDir(spark, root, versionDir(spark, root, cur.get)))
        .write.option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy("split", "lang").parquet(dir)
    }
    if (won) f.globStatus(new Path(s"$root/v*")).map(_.getPath)
      .filter(p => p.getName.matches("v\\d+") && p.getName.drop(1).toLong < v - 1L)
      .foreach(f.delete(_, true))
    spark.read.parquet(dataDir(spark, root)).inputFiles.length
  }
}
