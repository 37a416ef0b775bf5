package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TrainingPipeline
import graft.sources.{ShardStore, StateStore}
import graft.streaming.CorpusIngest

/** Streaming corpus ingestion == the same batches ingested sequentially
  * with runIncremental; replayed batches are skipped; state versions
  * accumulate (time travel). */
class CorpusIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def filler(tag: String) =
    (1 to 45).map(i => s"$tag$i").mkString(" ")

  private val b1 = Seq(
    (1L, "en", filler("one")),
    (2L, "en", filler("two")))
  private val b2 = Seq(
    (10L, "en", filler("ten")),
    (11L, "en", filler("one")))  // exact dup of doc 1's text — must drop

  test("streamed batches match sequential runIncremental exactly") {
    val base = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val q = CorpusIngest.start(
      mem.toDF.toDF("doc_id", "lang", "text"),
      s"$base/state", s"$base/shards", s"$base/ckpt")
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    // reference: the same two batches through runIncremental directly
    val st1 = TrainingPipeline.runIncremental(
      CorpusIngest.load(spark, s"$base/nostate"), b1.toDF("doc_id", "lang", "text")).state
    val st2 = TrainingPipeline.runIncremental(st1, b2.toDF("doc_id", "lang", "text")).state

    val streamed = CorpusIngest.load(spark, s"$base/state").manifest
      .select($"doc_id", $"split", $"lang", $"bin", $"n_tokens").orderBy($"doc_id").collect()
    val direct = st2.manifest
      .select($"doc_id", $"split", $"lang", $"bin", $"n_tokens").orderBy($"doc_id").collect()
    assert(streamed.nonEmpty && streamed.sameElements(direct))
    // the dup doc must have been dropped by the cross-batch hash gate
    assert(!streamed.map(_.getLong(0)).contains(11L))

    // the shard store carries exactly the live manifest
    val landed = ShardStore.read(spark, s"$base/shards")
      .select($"doc_id").as[Long].collect().sorted
    assert(landed.sameElements(streamed.map(_.getLong(0)).sorted))

    // two committed versions + time travel to v0
    assert(StateStore.latestVersion(spark, s"$base/state").contains(1L))
    val v0 = graft.sources.StateStore.loadVersion(spark, s"$base/state", 0L).manifest
    assert(v0.select($"doc_id").as[Long].collect().toSet == Set(1L, 2L))

    // a lost LATEST pointer is recovered from the commit markers, not
    // silently re-bootstrapped as an empty corpus (which would re-admit
    // every shipped doc on the next batch)
    val f = new org.apache.hadoop.fs.Path(s"$base/state/LATEST")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(s"$base/state/LATEST"), false)
    assert(StateStore.latestVersion(spark, s"$base/state").contains(1L),
      "LATEST not recovered from commit markers")
    val recovered = CorpusIngest.load(spark, s"$base/state").manifest
      .select($"doc_id", $"split", $"lang", $"bin", $"n_tokens").orderBy($"doc_id").collect()
    assert(recovered.sameElements(direct))
  }

  test("state self-maintenance compacts delta debt without changing the state") {
    val b3 = Seq((20L, "en", filler("twenty")))
    val base = java.nio.file.Files.createTempDirectory("graft_ingest3").toString
    def run(root: String, maxDeltas: Int): Unit =
      Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
        CorpusIngest.ingestBatch(b.toDF("doc_id", "lang", "text"), i.toLong,
          s"$root/state", s"$root/shards", maxStateDeltas = maxDeltas)
      }
    run(s"$base/kept", 0)        // maintenance off: deltas accumulate
    run(s"$base/compacted", 1)   // cap 1: every commit triggers compaction
    val f = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def deltaParts(root: String) =
      f.listStatus(new org.apache.hadoop.fs.Path(s"$root/state/hashes"))
        .count(_.getPath.getName.startsWith("ingest="))
    assert(deltaParts(s"$base/kept") == 3)
    assert(deltaParts(s"$base/compacted") == 1, "debt cap must consolidate deltas")
    def manifest(root: String) = CorpusIngest.load(spark, s"$root/state").manifest
      .select($"doc_id", $"split", $"lang", $"bin", $"n_tokens")
      .orderBy($"doc_id").collect()
    assert(manifest(s"$base/kept").nonEmpty &&
      manifest(s"$base/kept").sameElements(manifest(s"$base/compacted")),
      "maintenance changed the live state")
  }

  test("a replayed batch id is skipped outright") {
    val base = java.nio.file.Files.createTempDirectory("graft_ingest2").toString
    val df = b1.toDF("doc_id", "lang", "text")
    CorpusIngest.ingestBatch(df, 0L, s"$base/state", s"$base/shards")
    val before = spark.read.parquet(ShardStore.dataDir(spark, s"$base/shards")).count()
    CorpusIngest.ingestBatch(df, 0L, s"$base/state", s"$base/shards")
    assert(spark.read.parquet(ShardStore.dataDir(spark, s"$base/shards")).count() == before,
      "replay appended rows")
    assert(StateStore.latestVersion(spark, s"$base/state").contains(0L),
      "replay must not advance the state version")
  }
}
