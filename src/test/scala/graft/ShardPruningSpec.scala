package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TrainingPipeline
import graft.sources.{ShardStore, Tables}

/** File-skipping on the shard table: because rows are clustered by
  * (bin, doc_id) inside (split, lang) partitions and shard files are
  * record-bounded, each file covers a contiguous bin range — so the
  * min/max stats parquet keeps per row group exclude almost every file
  * for a bin-range read. The spec computes the skip set the same way
  * the reader does (per-file min/max vs the predicate) and pins that
  * the predicate actually reaches the scan as a pushed filter. */
class ShardPruningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Files under data dir `dir` whose [min(bin), max(bin)] range admits
    * `bin = b` — exactly the row groups a stats-pruning reader must
    * open. */
  private def filesAdmitting(dir: String, b: Long): (Long, Long) = {
    val perFile = spark.read.parquet(dir)
      .filter($"split" === "train" && $"lang" === "en")
      .select($"bin", input_file_name().as("f"))
      .groupBy($"f").agg(min($"bin").as("lo"), max($"bin").as("hi"))
    (perFile.filter($"lo" <= b && $"hi" >= b).count(), perFile.count())
  }

  test("bin-clustered shard files skip row groups on bin-range reads") {
    // sf0.01, not the default test SF: the demo needs one (split, lang)
    // partition to span many record-bounded files, and sf0.001's
    // train/en holds a single file's worth of rows either way
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    // small bins so one (split, lang) partition holds many of them
    val cfg = TrainingPipeline.Config(packCapacity = 256L)
    val manifest = TrainingPipeline.run(docs, cfg)
    val base = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val scrambled = base + "/scrambled" // a bare parquet dir, not a shard store

    ShardStore.init(docs, manifest, base + "/clustered", maxRecordsPerFile = 8L)
    val clustered = ShardStore.dataDir(spark, base + "/clustered")
    // same rows, same file-size bound, clustering destroyed: every file
    // spans the full bin range, so min/max stats can exclude nothing.
    // The sort leads with the partition columns ON PURPOSE — it then
    // satisfies the dynamic-partition writer's required ordering, so the
    // writer adds no sort of its own and the hash tiebreak survives (a
    // bare hash sort gets subsumed by the writer's partition-column
    // sort, which hands rows over in upstream ≈ bin order).
    manifest.join(docs.select($"doc_id", $"text"), Seq("doc_id"))
      .repartition($"split", $"lang")
      .sortWithinPartitions($"split", $"lang", xxhash64($"doc_id"))
      .write.mode("overwrite").option("maxRecordsPerFile", 8L)
      .partitionBy("split", "lang").parquet(scrambled)

    val bins = manifest.filter($"split" === "train" && $"lang" === "en")
      .select($"bin").distinct().count()
    assert(bins >= 4, s"need several bins in train/en for a meaningful test, got $bins")
    // probe a MIDDLE bin: an extreme value would be excluded by random
    // files' min/max too, proving nothing about clustering
    val probe = bins / 2

    def q(dir: String) = spark.read.parquet(dir)
      .filter($"split" === "train" && $"lang" === "en" && $"bin" === probe)

    // identical answers from both layouts
    val a = q(clustered).select($"doc_id").as[Long].collect().sorted
    val b = q(scrambled).select($"doc_id").as[Long].collect().sorted
    assert(a.nonEmpty && a.sameElements(b))

    // the bin predicate reaches the scan (stats pruning needs it there)
    val plan = q(clustered).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains(s"EqualTo(bin,$probe)"), plan)

    // clustered: the probe bin lives in a sliver of the partition's
    // files; scrambled: (nearly) every file's range admits it
    val (openC, totalC) = filesAdmitting(clustered, probe)
    val (openS, totalS) = filesAdmitting(scrambled, probe)
    assert(totalC >= 8 && totalS >= 8, s"want many files, got $totalC / $totalS")
    assert(openC * 4 <= totalC,
      s"clustered layout must skip >= 3/4 of files: opens $openC of $totalC")
    assert(openS * 2 >= totalS,
      s"scrambled control should open most files: opens $openS of $totalS")
  }
}
