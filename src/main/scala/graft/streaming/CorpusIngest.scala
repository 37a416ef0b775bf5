package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TrainingPipeline
import graft.sources.{ShardStore, StateStore}

/** Continuous corpus ingestion: a stream of documents drives the FULL
  * incremental training pipeline ([[TrainingPipeline.runIncremental]])
  * micro-batch by micro-batch — quality gates, exact + near dedup
  * against everything ever ingested, split assignment, retroactive
  * decontamination, packing — landing accepted rows and tombstones in
  * the [[ShardStore]] and committing the next state version.
  *
  * Each batch is ONE version of the state store's log
  * ([[graft.sources.VersionLog]]): its state delta, its shard rows,
  * its tombstones and its replay record are staged together, one claim
  * of `commits/v<N>` decides all of them, and the marker records where
  * each staged file moves — the state's new `ingest=<v>` partitions
  * (never touching the partitions it is concurrently reading), the
  * live shard version dir ([[ShardStore]]) and `batches/<id>`. Commit
  * I/O is independent of how large the corpus has grown
  * (StateCommitSpec measures it), and versions give state time travel
  * for free; a lost LATEST is recovered from the per-version commit
  * markers instead of silently bootstrapping an empty corpus. State
  * compaction commits a new base version (keeping `batches/`); shard
  * compaction commits a rewritten `v<N>` table dir and stays the
  * caller's ([[ShardStore.maybeCompact]]).
  *
  * Failure semantics — the reference's "no batch missing, none twice":
  * foreachBatch is at-least-once. A crash before the claim leaves only
  * an unclaimed stage, so the replay lands the batch once. A crash
  * after the claim leaves a version whose moves the next batch's
  * writer finishes before it checks for its replay record, so a
  * replayed batch id whose claim went through is skipped outright.
  * The state and shard roots must share one file system, because the
  * moves are renames.
  */
object CorpusIngest {

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Commit one ingest's delta as the next state version (O(batch)
    * write volume — see [[StateStore.commitDelta]]). */
  def commit(spark: SparkSession, delta: TrainingPipeline.IngestDelta,
             root: String): Long =
    StateStore.commitDelta(spark, delta, root)

  /** Latest committed state; an untouched root loads the empty corpus
    * (so the very first batch needs no special casing). Nothing here
    * is cached. */
  def load(spark: SparkSession, root: String): TrainingPipeline.CorpusState =
    StateStore.load(spark, root).getOrElse(StateStore.empty(spark))

  /** One micro-batch: finish any crashed batch's moves, skip if this
    * batch id is already committed, else ingest and commit the state
    * delta, shard rows, tombstones and replay record as one state
    * version, then run scheduled state maintenance. Exposed for tests
    * and for batch-mode callers that want the same
    * exactly-once-per-batch bookkeeping.
    *
    * Cache ownership: the call releases every frame it cached
    * ([[TrainingPipeline.IngestDelta.release]], after the commit and
    * the maintenance, also when one of them throws), so a long-lived
    * session running this loop holds no cache entry between batches.
    *
    * `maxStateDeltas` is the self-maintenance debt cap: once the state
    * store accumulates that many delta partitions, the commit is
    * followed by a consolidating [[StateStore.compact]] (the
    * auto-OPTIMIZE pattern — one amortized pause instead of unbounded
    * small-file accumulation; drops pre-compaction time travel, which
    * replay does not need: replay records survive compaction).
    * The debt CHECK is one directory listing, no Spark job. `0`
    * disables maintenance. Shard-table compaction stays caller-paced
    * ([[ShardStore.maybeCompact]]) — it rewrites shipped data files,
    * a policy decision this loop should not take implicitly. */
  def ingestBatch(batch: DataFrame, batchId: Long,
                  stateRoot: String, shardRoot: String,
                  cfg: TrainingPipeline.Config = TrainingPipeline.Config(),
                  maxStateDeltas: Int = 64): Unit = {
    val spark = batch.sparkSession
    val f = fs(spark, stateRoot)
    require(f.getUri == fs(spark, shardRoot).getUri,
      s"state root $stateRoot and shard root $shardRoot are on different file systems — " +
        "a batch commit moves its shard files by rename, which cannot cross them")
    StateStore.heal(spark, stateRoot)
    val record = s"batches/$batchId"
    if (f.exists(new Path(s"$stateRoot/$record"))) return
    val delta = TrainingPipeline.runIncremental(load(spark, stateRoot), batch, cfg)
    try {
      val live = ShardStore.liveDir(spark, shardRoot)
      StateStore.commitDeltaWith(spark, delta, stateRoot) { stage =>
        val moves = ShardStore.stageRows(batch, delta.accepted, stage, live) ++
          ShardStore.stageTombstones(delta.tombstones, stage, live)
        f.create(new Path(s"$stage/$record"), true).close()
        moves :+ (record -> new Path(s"$stateRoot/$record"))
      }
      if (maxStateDeltas > 0)
        StateStore.maybeCompact(spark, stateRoot, maxDeltas = maxStateDeltas)
    } finally delta.release()
  }

  /** Wire a document stream (doc_id, lang, text) into the ingest loop. */
  def start(docs: DataFrame, stateRoot: String, shardRoot: String,
            checkpoint: String,
            cfg: TrainingPipeline.Config = TrainingPipeline.Config(),
            maxStateDeltas: Int = 64): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), batchId, stateRoot, shardRoot, cfg, maxStateDeltas)
      }
      .start()
}
