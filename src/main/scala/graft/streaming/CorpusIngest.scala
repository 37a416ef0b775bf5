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
  * Both stores commit every version through the one version log
  * ([[graft.sources.VersionLog]]: stage, claim `commits/v<N>`, flip
  * `LATEST`; state deltas move into their partitions after the
  * claim, whole shard versions are written in place). A batch's state
  * commit is a VERSIONED DELTA ([[StateStore]]): its O(batch) witness
  * deltas become new `ingest=<v>` partitions (never touching the
  * partitions it is concurrently reading) — which also gives state
  * time travel for free. Commit I/O is independent of how large the corpus has grown
  * (StateCommitSpec measures it); a lost LATEST is recovered from the
  * per-version commit markers instead of silently bootstrapping an
  * empty corpus. State compaction commits a new base version; shard
  * compaction commits a rewritten `v<N>` table dir ([[ShardStore]]);
  * shard appends and tombstones land inside the live version.
  *
  * Failure semantics (bare parquet, no transactional format):
  * foreachBatch is at-least-once, and a REPLAYED batch whose commit
  * went through is detected by its `BATCH_<id>` marker and skipped
  * outright. A replay that lost the race between the shard append and
  * the marker can double-append — that residual window is the honest
  * limit of bare parquet; with content addressing the STATE never
  * corrupts either way, because every replayed document is an exact
  * dup of itself and the pipeline drops it (`runIncremental` replays
  * are structural no-ops). At deployment scale the store graduates to
  * Delta/Iceberg and the window closes.
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

  /** One micro-batch: skip if already committed, else ingest + land +
    * commit + scheduled state maintenance. Exposed for tests and for
    * batch-mode callers that want the same exactly-once-per-batch
    * bookkeeping.
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
    * replay does not need: replayed batch ids are marker-skipped).
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
    val marker = new Path(s"$stateRoot/BATCH_$batchId")
    if (f.exists(marker)) return
    val delta = TrainingPipeline.runIncremental(load(spark, stateRoot), batch, cfg)
    try {
      ShardStore.append(batch, delta.accepted, shardRoot)
      ShardStore.addTombstones(delta.tombstones, shardRoot)
      commit(spark, delta, stateRoot)
      f.create(marker, true).close()
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
