package graftbench

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import com.fasterxml.jackson.databind.ObjectMapper

import graft.operators.TrainingPipeline
import graft.sources.{ShardStore, StateStore}
import graft.streaming.CorpusIngest

/** Continuous corpus ingestion: ascending doc-id batches through
  * `CorpusIngest.ingestBatch` against a bootstrapped state store and
  * shard store. The traced phase makes the same public calls
  * `ingestBatch` is made of, one at a time, so each layer gets a span;
  * the pipeline's own `probe` hook times its stages. */
final class CorpusIngestLoad(spark: SparkSession, args: Main.Args, prefix: String)
    extends Workload {
  private val cutMeta = new ObjectMapper().readTree(new File(s"${args.inputs}/cut.json"))
  private val cut = cutMeta.get("cut").asLong
  private val batchDocs = cutMeta.get("batch_docs").asLong
  private val maxBatches = cutMeta.get("max_batches").asInt
  private val stateRoot = s"$prefix${args.work}/state"
  private val shardRoot = s"$prefix${args.work}/shards"
  private var batches = 0
  private val accepted = scala.collection.mutable.ArrayBuffer[Double]()
  private val tombstones = scala.collection.mutable.ArrayBuffer[Double]()

  private lazy val docs: DataFrame =
    spark.read.parquet(s"$prefix${args.inputs}/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))

  def outputRoots: Seq[String] = Seq(stateRoot, shardRoot)

  def setup(): Unit = {
    val corpus = docs.filter(col("doc_id") < cut)
    val state = TrainingPipeline.bootstrapState(corpus)
    StateStore.commitBootstrap(spark, state, stateRoot)
    ShardStore.init(corpus, state.manifest, shardRoot)
    Seq(state.hashes, state.sigs, state.labels, state.shingles, state.manifest)
      .foreach(_.unpersist())
  }

  override def hasNext: Boolean = batches < maxBatches

  def next(spans: Option[Spans], timeUp: Boolean): (String, Long) = {
    val lo = cut + batches * batchDocs
    val batch = docs.filter(col("doc_id") >= lo && col("doc_id") < lo + batchDocs)
    val id = batches.toLong
    batches += 1
    spans match {
      case None => CorpusIngest.ingestBatch(batch, id, stateRoot, shardRoot)
      case Some(s) => tracedIngest(batch, id, s)
    }
    ("ingest", batchDocs)
  }

  /** `ingestBatch`'s steps with a span around each. */
  private def tracedIngest(batch: DataFrame, id: Long, s: Spans): Unit = {
    val f = new Path(stateRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(s"$stateRoot/BATCH_$id")
    require(!f.exists(marker), s"batch $id already committed")
    val state = s.time("state_load")(CorpusIngest.load(spark, stateRoot))
    var last = System.nanoTime()
    val probe: (String, DataFrame) => Unit = { (stage, df) =>
      df.count()
      val now = System.nanoTime()
      s.add(stage, (now - last) / 1e9)
      last = now
    }
    val delta = TrainingPipeline.runIncremental(state, batch, TrainingPipeline.Config(), probe)
    s.time("shard_append") {
      ShardStore.append(batch, delta.accepted, shardRoot)
      ShardStore.addTombstones(delta.tombstones, shardRoot)
    }
    s.time("state_commit") {
      CorpusIngest.commit(spark, delta, stateRoot)
      f.create(marker, true).close()
    }
    s.time("state_compact")(StateStore.maybeCompact(spark, stateRoot, maxDeltas = 64))
    accepted += delta.accepted.count().toDouble / batchDocs
    tombstones += delta.tombstones.count().toDouble
  }

  /** The bootstrap is the warm-up: it runs every pipeline stage and
    * both stores' write paths over the corpus. A warm-up batch would
    * cost as much as the whole timed phase (one batch takes ~12 s on 4
    * cores), which the benchmark's run budget has no room for. */
  def settled(ops: Seq[Op]): Boolean = true

  override def layerMetrics(ops: Seq[Op], spans: Spans): Map[String, Double] =
    Map(
      "sources.state_load_s" -> spans.mean("state_load"),
      "sources.shard_append_s" -> spans.mean("shard_append"),
      "sources.state_commit_s" -> spans.mean("state_commit"),
      "sources.state_compact_s" -> spans.mean("state_compact"),
      "operators.ingest.accept_ratio" -> Stats.median(accepted.toSeq),
      "operators.ingest.tombstones_per_batch" ->
        (if (tombstones.isEmpty) 0.0 else tombstones.sum / tombstones.size)) ++
      Seq("gate", "exact_dedup", "lsh_cc", "split", "decon", "pack")
        .map(st => s"operators.ingest.${st}_s" -> spans.mean(st))

  /** The live shard table equals the full pipeline over the bootstrap
    * corpus plus every ingested batch, on (doc_id, split, lang,
    * n_tokens) — the IncrementalPipelineSpec invariant. */
  def check(): Map[String, Any] = {
    val cols = Seq("doc_id", "split", "lang", "n_tokens").map(col)
    val live = ShardStore.read(spark, shardRoot).select(cols: _*)
    val full = TrainingPipeline.run(docs.filter(col("doc_id") < cut + batches * batchDocs))
      .select(cols: _*)
    val onlyLive = live.exceptAll(full).count()
    val onlyFull = full.exceptAll(live).count()
    Map("manifest_matches_full_run" -> (onlyLive == 0 && onlyFull == 0),
      "only_live" -> onlyLive, "only_full" -> onlyFull, "batches" -> batches,
      "live_docs" -> live.count())
  }
}
