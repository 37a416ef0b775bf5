package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * Every change is a version behind a pointer — the model
  * [[StateStore]] shares: data lives under `root/v<N>/`, a
  * `root/_current` pointer file names the live version, appends and
  * tombstones land file-atomically inside it, and [[compact]] writes
  * `v<N+1>` IN FULL before flipping the pointer. A reader never sees a
  * missing or half-written table: it resolves the pointer once
  * ([[dataDir]]) and reads an immutable complete version dir. The PREVIOUS version is retained until the
  * next compaction as a grace copy, so a reader that resolved the old
  * pointer mid-compact finishes its scan against intact files; only
  * versions two compactions old are deleted. (Disk high-water mark:
  * 2× the table between compactions — the price of lock-free readers;
  * a transactional format (Delta/Iceberg) with snapshot retention is
  * the deployment-scale graduation and this object's surface maps 1:1
  * onto it: append = append, tombstone = delete, compact = OPTIMIZE.)
  *
  * [[init]] lands `v0`, and so does the first [[append]] to a root
  * that does not exist yet. A root holding neither `_current` nor a
  * committed `v<N>` is not a shard table: every reader and writer
  * fails loudly on it.
  *
  * Concurrency contract: READERS are lock-free at any time (the
  * pointer + grace copy above); WRITERS are single-threaded — one
  * ingest loop owns append/addTombstones/compact (the
  * [[graft.streaming.CorpusIngest]] shape). An append racing a
  * compact would land rows in the outgoing version after the rewrite
  * read them; a transactional format's optimistic commit protocol is
  * the graduation for multi-writer deployments.
  */
object ShardStore {

  private def tombDir(dataDir: String) = dataDir + "/_tombstones"

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def currentPath(root: String) = new Path(s"$root/_current")

  /** Version index of a data dir `root/v<N>`. */
  private def versionOf(root: String, dir: String): Long =
    dir.substring(root.length + 2).toLong

  private def versionDirs(f: org.apache.hadoop.fs.FileSystem,
                          root: String): Seq[(Long, Path)] =
    f.globStatus(new Path(s"$root/v*")).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
      .map(s => s.getPath.getName.drop(1).toLong -> s.getPath)

  /** Only COMMITTED version dirs count anywhere a reader resolves: a
    * version is committed once its `_SUCCESS` marker exists (Spark's
    * committer writes it at job completion; [[markCommitted]] creates
    * it defensively in case the success-marker conf is off). An
    * in-flight compact's half-written next dir, or a crash leftover,
    * has no marker and is therefore never advertised, never resolved
    * by the pointer fallback, and safely overwritten by the next
    * compact. */
  private def committedVersionDirs(f: org.apache.hadoop.fs.FileSystem,
                                   root: String): Seq[(Long, Path)] =
    versionDirs(f, root).filter { case (_, p) => f.exists(new Path(p, "_SUCCESS")) }

  private def markCommitted(f: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    val m = new Path(dir, "_SUCCESS")
    if (!f.exists(m)) f.create(m, true).close()
  }

  /** The LIVE data directory `root/<_current>`. Resolving the pointer
    * is the reader's only coupling to maintenance — the dir it returns
    * is complete and immutable-under-compaction (appends do land in
    * it, file-atomically). If the pointer file is mid-flip (the
    * delete→rename instant of [[Pointer.flip]]), the highest committed
    * version dir IS the flip target and complete — fall back to it. A
    * root with neither is not a shard table: fail loudly rather than
    * read or append to it as one. */
  def dataDir(spark: SparkSession, root: String): String = {
    val f = fs(spark, root)
    val name = Pointer.read(f, currentPath(root)).getOrElse {
      val vs = committedVersionDirs(f, root)
      require(vs.nonEmpty, s"$root has neither a _current pointer nor a " +
        "committed v<N> dir — not a shard table (damaged or foreign root)")
      s"v${vs.map(_._1).max}"
    }
    s"$root/$name"
  }

  private def flipCurrent(spark: SparkSession, root: String, name: String): Unit =
    Pointer.flip(fs(spark, root), currentPath(root), name)

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

  /** Manifest rows + their text, clustered and landed. Fails loudly if
    * a manifest row has no document (stale or filtered input).
    *
    * `maxRecordsPerFile` (0 = unbounded) bounds shard-file size — the
    * knob a training-data reader wants ("one shard file ≈ one worker's
    * chunk") — and, because rows are clustered by (bin, doc_id), it
    * makes each file a contiguous bin range: a bin-range read then
    * skips whole files' row groups on parquet min/max stats
    * (ShardPruningSpec measures exactly that). */
  private def land(docs: DataFrame, manifest: DataFrame, root: String,
                   mode: String, maxRecordsPerFile: Long,
                   cluster: DataFrame => DataFrame = plainCluster): Unit = {
    val missing = manifest
      .join(docs.select(col("doc_id")), Seq("doc_id"), "left_anti").count()
    require(missing == 0,
      s"$missing manifest rows have no document in `docs` — stale or filtered input?")
    cluster(manifest.join(docs.select(col("doc_id"), col("text")), Seq("doc_id")))
      .write.mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("split", "lang").parquet(root)
  }

  /** Land the bootstrap manifest (replaces any prior table at the
    * root) as version 0 of the versioned layout, then flip the
    * pointer — the table is addressable only once fully written. */
  def init(docs: DataFrame, manifest: DataFrame, root: String,
           maxRecordsPerFile: Long = 0L): Unit = {
    val f = fs(docs.sparkSession, root)
    if (f.exists(new Path(root))) f.delete(new Path(root), true)
    land(docs, manifest, s"$root/v0", "overwrite", maxRecordsPerFile)
    markCommitted(f, s"$root/v0")
    flipCurrent(docs.sparkSession, root, "v0")
  }

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
                   maxRecordsPerFile: Long = 0L): Unit = {
    val f = fs(docs.sparkSession, root)
    if (f.exists(new Path(root))) f.delete(new Path(root), true)
    land(docs, manifest, s"$root/v0", "overwrite", maxRecordsPerFile, zCluster)
    markCommitted(f, s"$root/v0")
    flipCurrent(docs.sparkSession, root, "v0")
  }

  /** Land one ingest's accepted rows (appends; bins were opened past
    * each group's historical max, so clustering stays monotone across
    * the appended files). The first append to a root that does not
    * exist yet lands them as `v0`, the way [[init]] would. */
  def append(batchDocs: DataFrame, accepted: DataFrame, root: String,
             maxRecordsPerFile: Long = 0L): Unit =
    if (!fs(batchDocs.sparkSession, root).exists(new Path(root)))
      init(batchDocs, accepted, root, maxRecordsPerFile)
    else land(batchDocs, accepted, dataDir(batchDocs.sparkSession, root),
      "append", maxRecordsPerFile)

  /** Record retractions: (doc_id, reason) appended to the side table. */
  def addTombstones(tombstones: DataFrame, root: String): Unit =
    tombstones.select(col("doc_id"), col("reason"))
      .write.mode("append")
      .parquet(tombDir(dataDir(tombstones.sparkSession, root)))

  /** The live table: every landed row minus tombstoned docs. */
  def read(spark: SparkSession, root: String): DataFrame =
    readDir(spark, root, dataDir(spark, root))

  /** The live table AS OF a retained version — the versioned layout's
    * free time travel. Only the current and the immediately previous
    * version exist (the one-cycle grace retention, see the class doc);
    * asking for a reclaimed or never-written version fails loudly.
    * `versions` lists what is readable right now. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame = {
    val f = fs(spark, root)
    require(committedVersionDirs(f, root).exists(_._1 == version),
      s"version $version is not retained at $root — readable: " +
        versions(spark, root).mkString("[", ", ", "]"))
    readDir(spark, root, s"$root/v$version")
  }

  /** Version indexes currently on disk, ascending (at most two: the
    * grace copy and the live version; one before the first compact). */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    committedVersionDirs(fs(spark, root), root).map(_._1).sorted

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

  /** Claim file fencing version `v` against a CONCURRENT compactor:
    * created atomically (create-if-absent) OUTSIDE the version dir —
    * the rewrite's overwrite would delete an in-dir sentinel. Deleted
    * after the pointer flips (a flipped pointer makes the claim
    * moot: the next compaction targets v+1). */
  private def claimPath(root: String, v: Long) = new Path(s"$root/_claim_v$v")

  /** Physically apply tombstones and merge accumulated small files:
    * rewrite the live rows fully re-clustered into the NEXT version
    * dir, flip the `_current` pointer, and drop versions two
    * compactions old (the immediately previous version is retained as
    * the in-flight readers' grace copy — see the class doc). The
    * tombstone table lives inside the version dir, so the new version
    * starts with zero tombstone debt by construction. A crash before
    * the flip leaves a complete-but-unreferenced next dir that the
    * following compact simply overwrites; no crash point ever leaves
    * the pointer naming an incomplete dir. Returns the data file
    * count of the new version. */
  def compact(spark: SparkSession, root: String,
              maxRecordsPerFile: Long = 0L): Int = {
    val f = fs(spark, root)
    val cur = dataDir(spark, root)
    val curVer = versionOf(root, cur)
    val next = s"$root/v${curVer + 1}"
    // conditional commit: claim v<N+1> atomically; exactly one
    // compactor may rewrite toward a version number. A lost claim
    // either converged already (the pointer advanced — return the
    // winner's outcome) or is IN FLIGHT (fail loudly; callers retry
    // after the winner finishes — ShardRaceSpec pins both paths). A
    // claim whose version dir is complete (_SUCCESS) but whose writer
    // died before the flip is healed by finishing the flip here.
    val claimed = try {
      f.create(claimPath(root, curVer + 1), false).close(); true
    } catch { case _: java.io.IOException => false }
    if (claimed &&
        versionOf(root, dataDir(spark, root)) != curVer) {
      // stale claimant: another compactor flipped (and released its
      // claim) between our curVer read and our claim — rewriting
      // toward curVer+1 would overwrite the LIVE version dir. Release
      // and converge on the winner's outcome.
      f.delete(claimPath(root, curVer + 1), false)
      return spark.read.parquet(dataDir(spark, root)).inputFiles.length
    }
    if (!claimed) {
      val advanced = versionOf(root, dataDir(spark, root)) > curVer
      if (advanced)
        return spark.read.parquet(dataDir(spark, root)).inputFiles.length
      if (f.exists(new Path(s"$next/_SUCCESS"))) { // dead winner: heal the flip
        flipCurrent(spark, root, s"v${curVer + 1}")
        f.delete(claimPath(root, curVer + 1), false)
        return spark.read.parquet(next).inputFiles.length
      }
      throw new java.util.ConcurrentModificationException(
        s"compaction toward v${curVer + 1} is in flight under $root — " +
          "retry after it completes (or delete its _claim file if the " +
          "compactor is known dead)")
    }
    // read() is lazy — the rewrite job below is the only
    // materialization, and it completes before the pointer moves
    read(spark, root)
      .repartition(col("split"), col("lang"))
      .sortWithinPartitions(col("split"), col("lang"), col("bin"), col("doc_id"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("split", "lang").parquet(next)
    markCommitted(f, next)
    flipCurrent(spark, root, s"v${curVer + 1}")
    f.delete(claimPath(root, curVer + 1), false) // flipped: the claim is moot
    versionDirs(f, root).filter(_._1 < curVer)
      .foreach { case (_, p) => f.delete(p, true) }
    spark.read.parquet(next).inputFiles.length
  }
}
