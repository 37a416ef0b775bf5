package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TrainingPipeline.{CorpusState, IngestDelta}

/** Versioned DELTA commits for the incremental-ingest corpus state
  * ([[graft.operators.TrainingPipeline.CorpusState]]) — the layout that
  * makes a daily ingest's state-commit I/O O(batch), not O(corpus).
  *
  * The witness tables (`hashes`, `sigs`, `shingles`, `manifest`) are
  * append-only minus per-doc tombstones, and `runIncremental` already
  * computes each ingest's exact delta — so a commit writes ONLY that
  * delta, as one new `ingest=<v>` partition per table:
  *
  * {{{
  * root/
  *   hashes/ingest=<v>/     (h)                              append-only
  *   sigs/ingest=<v>/       (id, hs, sig)                    append-only
  *   shingles/ingest=<v>/   (doc_id, split, h)               append-only
  *   manifest/ingest=<v>/   (split, lang, bin, doc_id, n_tokens)
  *   dead/ingest=<v>/       (doc_id)   docs tombstoned AT v  append-only
  *   labels/v=<v>/          (id, comp) full per version — CC labels
  *                          MUTATE on merge, so they are not
  *                          append-shaped; they are also the smallest
  *                          table (non-singleton nodes only)
  *   staging/, commits/, LATEST   the version log ([[VersionLog]])
  * }}}
  *
  * Every version commits through [[VersionLog]], the protocol all
  * versioned stores share, in its delta shape: the artifacts are
  * staged, `commits/v<v>` is claimed (exactly one writer wins a
  * version number) with a marker that records each staged dir's
  * `ingest=<v>`/`v=<v>` partition, the dirs move there, LATEST flips.
  * A delta version stages one ingest's increment — plus, for a corpus
  * ingest batch, the batch's shard rows, tombstones and replay record
  * ([[graft.streaming.CorpusIngest.ingestBatch]]), so one claim
  * decides all of it; a BASE version ([[commitBootstrap]],
  * [[compact]]) stages the full live state. Each
  * marker names its version's base, so [[loadVersion]] reconstructs
  * state-at-v from the partitions `base <= ingest <= v` plus ONE
  * anti-join of the accumulated dead set onto shingles and manifest —
  * exactly the logical state `runIncremental` maintains in memory,
  * because doc ids are globally unique and a doc is never re-admitted
  * after a tombstone (both are existing contract). Versions back to
  * the latest base stay readable (state time travel); this store's
  * retention: a base deletes the partitions below it once LATEST names
  * it — the Delta VACUUM trade.
  *
  * Crash/replay semantics are the log's: a crash while staging leaves
  * nothing a reader sees; a version claimed but not yet moved is not
  * read ([[latestVersion]] returns the one before it, and readers
  * never write); the next writer ([[commitDelta]],
  * [[commitDeltaOptimistic]], [[commitBootstrap]], [[compact]], an
  * ingest batch) finishes its moves before claiming. A crash after a
  * base's flip leaves pre-base partitions that no read touches; the
  * next compaction deletes them. State tables with NO markers fail
  * loudly as corruption instead of silently bootstrapping an empty
  * corpus — the failure that would re-admit every previously shipped
  * doc.
  */
object StateStore {

  private val Tables = Seq("hashes", "sigs", "shingles", "manifest", "dead")
  /** Everything a version writes: the delta tables plus its labels. */
  private val Artifacts = Tables :+ "labels"

  private val schemas: Map[String, StructType] = Map(
    "hashes" -> StructType(Seq(StructField("h", StringType))),
    "sigs" -> StructType(Seq(
      StructField("id", LongType),
      StructField("hs", ArrayType(LongType)),
      StructField("sig", ArrayType(IntegerType)))),
    "shingles" -> StructType(Seq(
      StructField("doc_id", LongType),
      StructField("split", StringType),
      StructField("h", LongType))),
    "manifest" -> StructType(Seq(
      StructField("split", StringType),
      StructField("lang", StringType),
      StructField("bin", LongType),
      StructField("doc_id", LongType),
      StructField("n_tokens", LongType))),
    "dead" -> StructType(Seq(StructField("doc_id", LongType))),
    "labels" -> StructType(Seq(
      StructField("id", LongType),
      StructField("comp", LongType))))

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Partition column of table `t`: labels are whole per version. */
  private def partitionKey(t: String) = if (t == "labels") "v" else "ingest"
  private def partitionPath(root: String, t: String, v: Long) =
    new Path(s"$root/$t/${partitionKey(t)}=$v")

  /** State tables with no commit marker are a damaged root, not an
    * empty corpus: table dirs receive files only after a claim, so
    * tables without any marker mean the markers of a real corpus were
    * lost (a first commit that died while staging left none). */
  private def checkMarkers(f: FileSystem, root: String,
                           markers: Option[Long]): Unit =
    require(markers.nonEmpty || Tables.forall(t => !f.exists(new Path(s"$root/$t"))),
      s"state tables exist under $root but no commit marker does — " +
        "refusing to treat a damaged state root as an empty corpus")

  /** Latest readable version: the newest whose moves are done
    * ([[VersionLog.readable]]). Read-only; a damaged root fails
    * loudly ([[checkMarkers]]). */
  def latestVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    val v = VersionLog.readable(f, root)
    if (v.isEmpty) checkMarkers(f, root, VersionLog.latest(f, root))
    v
  }

  /** What a writer builds on: every claimed version, its moves finished
    * first ([[VersionLog.healForward]]). */
  private[graft] def heal(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    val v = VersionLog.healForward(f, root)
    checkMarkers(f, root, v)
    v
  }

  /** Commit version `v` on `base` through the log: `artifacts` (table
    * name -> rows) are staged, plus whatever `extra` stages beside them
    * (returning its moves), then claimed and moved into place. A base
    * version (`base == v`) then deletes the partitions below it.
    * Returns false, with the staging discarded, when another writer
    * claimed `v` first. */
  private def commitStaged(spark: SparkSession, root: String, v: Long, base: Long,
                           artifacts: Seq[(String, DataFrame)],
                           extra: String => Seq[(String, Path)] = _ => Nil): Boolean = {
    val f = fs(spark, root)
    val won = VersionLog.commit(f, root, v, base) { stage =>
      artifacts.foreach { case (t, df) =>
        df.select(schemas(t).fieldNames.toSeq.map(col): _*).write.parquet(s"$stage/$t")
      }
      Artifacts.map(t => t -> partitionPath(root, t, v)) ++ extra(stage)
    }
    if (won && base == v) Artifacts.foreach { t =>
      val prefix = partitionKey(t) + "="
      f.listStatus(new Path(s"$root/$t")).map(_.getPath)
        .filter(p => p.getName.startsWith(prefix) && p.getName.drop(prefix.length).toLong < base)
        .foreach(p => f.delete(p, true))
    }
    won
  }

  /** The base a delta on top of `cur` extends (0 on an empty root,
    * where the delta is itself the base v0). */
  private def baseOf(spark: SparkSession, root: String, cur: Option[Long]): Long =
    cur.fold(0L)(VersionLog.base(fs(spark, root), root, _))

  private def deltaArtifacts(delta: IngestDelta): Seq[(String, DataFrame)] = Seq(
    "hashes" -> delta.stateDelta.newHashes,
    "sigs" -> delta.stateDelta.newSigs,
    "shingles" -> delta.stateDelta.newShingles,
    "manifest" -> delta.accepted,
    "dead" -> delta.tombstones,
    "labels" -> delta.state.labels)

  /** Commit `st` in full as base version `v`; its dead set is already
    * applied, so the base's `dead` partition is empty. */
  private def commitBase(spark: SparkSession, root: String, v: Long,
                         st: CorpusState): Long = {
    val noDead = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schemas("dead"))
    val artifacts = Seq("hashes" -> st.hashes, "sigs" -> st.sigs,
      "shingles" -> st.shingles, "manifest" -> st.manifest,
      "dead" -> noDead, "labels" -> st.labels)
    if (!commitStaged(spark, root, v, base = v, artifacts)) lostRace(root, v)
    v
  }

  private def lostRace(root: String, v: Long): Nothing =
    throw new java.util.ConcurrentModificationException(
      s"version $v under $root was committed by another writer")

  /** Commit one ingest's DELTA as version latest+1: the three witness
    * deltas and the accepted manifest rows append as new `ingest`
    * partitions, this ingest's tombstoned doc ids land in `dead`, and
    * only `labels` (small) is written in full. Commit bytes are
    * O(batch), independent of corpus size — StateCommitSpec measures
    * exactly that. Fails if another writer commits first; use
    * [[commitDeltaOptimistic]] to recompute instead. */
  def commitDelta(spark: SparkSession, delta: IngestDelta, root: String): Long =
    commitDeltaWith(spark, delta, root)(_ => Nil)

  /** [[commitDelta]] whose version also carries what `extra` stages
    * beside the state artifacts (it gets the stage dir and returns
    * each staged path's destination): one claim decides both. */
  private[graft] def commitDeltaWith(spark: SparkSession, delta: IngestDelta, root: String)
                                    (extra: String => Seq[(String, Path)]): Long = {
    val cur = heal(spark, root)
    val v = cur.fold(0L)(_ + 1L)
    if (!commitStaged(spark, root, v, baseOf(spark, root, cur), deltaArtifacts(delta), extra))
      lostRace(root, v)
    v
  }

  /** Optimistic conditional commit: compute the delta against the
    * freshest state, then commit it as latest+1 — if another writer
    * advanced the corpus first, the claim fails, the staging is
    * discarded, and the delta is RECOMPUTED from the new state
    * (`deltaOf` receives the freshly loaded state each attempt, None
    * for an empty root). Lost updates are impossible by construction:
    * a version number is committed by exactly one writer, and every
    * retry re-reads the winner's state before recomputing. Returns the
    * committed version; fails after `maxAttempts` lost races. */
  def commitDeltaOptimistic(spark: SparkSession, root: String,
                            maxAttempts: Int = 5)
                           (deltaOf: Option[CorpusState] => IngestDelta): Long = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val cur = heal(spark, root)
      val target = cur.fold(0L)(_ + 1L)
      val delta = deltaOf(cur.map(v => loadVersion(spark, root, v)))
      if (commitStaged(spark, root, target, baseOf(spark, root, cur), deltaArtifacts(delta)))
        return target
    }
    throw new java.util.ConcurrentModificationException(
      s"lost the commit race $maxAttempts times under $root")
  }

  /** Commit a freshly bootstrapped corpus as a base version (v0 on an
    * empty root). */
  def commitBootstrap(spark: SparkSession, state: CorpusState, root: String): Long =
    commitBase(spark, root, heal(spark, root).fold(0L)(_ + 1L), state)

  private def readTable(spark: SparkSession, root: String, table: String,
                        base: Long, v: Long): DataFrame = {
    val schema = schemas(table).add(StructField("ingest", LongType))
    val p = s"$root/$table"
    require(fs(spark, root).exists(new Path(p)),
      s"state table $p is missing for committed version $v — refusing to " +
        "read a damaged state root as an empty table")
    spark.read.schema(schema).parquet(p)
      .filter(col("ingest").between(base, v)) // partition-pruned
      .drop("ingest")
  }

  /** Reconstruct the state as of version `v` (time travel back to the
    * latest base): pruned delta scans + one anti-join of the
    * accumulated dead set onto shingles and manifest. */
  def loadVersion(spark: SparkSession, root: String, v: Long): CorpusState = {
    val base = VersionLog.base(fs(spark, root), root, v)
    val dead = readTable(spark, root, "dead", base, v)
    CorpusState(
      hashes = readTable(spark, root, "hashes", base, v),
      sigs = readTable(spark, root, "sigs", base, v),
      labels = spark.read.schema(schemas("labels")).parquet(s"$root/labels/v=$v"),
      shingles = readTable(spark, root, "shingles", base, v)
        .join(dead, Seq("doc_id"), "left_anti"),
      manifest = readTable(spark, root, "manifest", base, v)
        .join(dead, Seq("doc_id"), "left_anti"))
  }

  /** Latest committed state, or None for an untouched root. */
  def load(spark: SparkSession, root: String): Option[CorpusState] =
    latestVersion(spark, root).map(v => loadVersion(spark, root, v))

  /** The empty corpus, in the stored tables' schemas. */
  private[graft] def empty(spark: SparkSession): CorpusState = {
    def none(t: String) = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schemas(t))
    CorpusState(none("hashes"), none("sigs"), none("labels"), none("shingles"), none("manifest"))
  }

  /** Consolidate the accumulated delta partitions: commit the live
    * state as of LATEST, with `dead` applied physically, as a new base
    * version LATEST+1, which then deletes every partition and label
    * version below it. Reads at the new LATEST see the same state;
    * time travel before it is given up — the same trade a Delta VACUUM
    * makes. Returns the version it committed. */
  def compact(spark: SparkSession, root: String): Long = {
    val v = heal(spark, root).getOrElse(
      throw new IllegalStateException(s"nothing committed under $root"))
    commitBase(spark, root, v + 1L, loadVersion(spark, root, v))
  }

  /** Compact when the accumulated delta-partition count crosses
    * `maxDeltas` — the debt policy an ingest loop calls after each
    * commit. Debt is measured from one directory listing; no Spark
    * job. Returns Some(version) when compaction ran. */
  def maybeCompact(spark: SparkSession, root: String, maxDeltas: Int): Option[Long] = {
    val f = fs(spark, root)
    val hashesDir = new Path(s"$root/hashes")
    if (!f.exists(hashesDir)) None
    else {
      val deltas = f.listStatus(hashesDir).count(_.getPath.getName.startsWith("ingest="))
      if (deltas > maxDeltas) Some(compact(spark, root)) else None
    }
  }
}
