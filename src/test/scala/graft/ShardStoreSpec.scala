package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TrainingPipeline
import graft.sources.ShardStore

/** Shard-table maintenance: append-only ingest, logical tombstones,
  * physical compaction. */
class ShardStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val core = (1 to 30).map(i => s"core$i").mkString(" ")
  private def suffixed(tag: String) =
    core + " " + (1 to 15).map(i => s"$tag$i").mkString(" ")
  private def filler(tag: String) =
    (1 to 45).map(i => s"$tag$i").mkString(" ")

  test("append + tombstones + compact keep read() identical and purge physically") {
    val corpus = Seq(
      (1L, "en", suffixed("alpha")),
      (2L, "en", suffixed("beta")),
      (3L, "en", filler("pad"))
    ).toDF("doc_id", "lang", "text")
    val batch = Seq(
      (10L, "en", core),          // bridge: supersedes shipped doc 2
      (11L, "en", filler("new"))  // genuinely new
    ).toDF("doc_id", "lang", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_store").toString + "/shards"

    val st0 = TrainingPipeline.bootstrapState(corpus)
    ShardStore.init(corpus, st0.manifest, root)
    val delta = TrainingPipeline.runIncremental(st0, batch)
    ShardStore.append(batch, delta.accepted, root)
    ShardStore.addTombstones(delta.tombstones, root)

    // the delta carried a tombstone (doc 2 superseded) and an add (doc 11)
    assert(delta.tombstones.count() == 1 && delta.accepted.count() == 1)

    // read() == the post-ingest live manifest, text attached
    val live = ShardStore.read(spark, root)
    val a = live.select($"doc_id", $"split", $"lang", $"bin", $"n_tokens")
      .orderBy($"doc_id").collect()
    val b = delta.state.manifest.select($"doc_id", $"split", $"lang", $"bin", $"n_tokens")
      .orderBy($"doc_id").collect()
    assert(a.sameElements(b))
    assert(live.filter($"text".isNull).count() == 0)

    // before compaction the tombstoned row is still physically present
    def raw() = spark.read.parquet(ShardStore.dataDir(spark, root))
    assert(raw().filter($"doc_id" === 2L).count() == 1)
    val filesBefore = raw().inputFiles.length

    val filesAfter = ShardStore.compact(spark, root)
    assert(filesAfter <= filesBefore, s"$filesBefore -> $filesAfter files")
    // physical purge: the raw table no longer contains the tombstoned doc
    assert(raw().filter($"doc_id" === 2L).count() == 0)
    // and read() is unchanged by compaction (tombstone table gone too)
    val after = ShardStore.read(spark, root)
      .select($"doc_id", $"split", $"lang", $"bin", $"n_tokens")
      .orderBy($"doc_id").collect()
    assert(after.sameElements(b))
  }

  test("maybeCompact fires on tombstone debt and on file debt, not before") {
    val docs = Seq(
      (1L, "en", filler("ca")), (2L, "en", filler("cb")),
      (3L, "en", filler("cc")), (4L, "en", filler("cd"))
    ).toDF("doc_id", "lang", "text")
    val st = TrainingPipeline.bootstrapState(docs)
    val root = java.nio.file.Files.createTempDirectory("graft_mc").toString + "/shards"
    ShardStore.init(docs, st.manifest, root)

    // healthy table: neither trigger fires
    assert(ShardStore.maybeCompact(spark, root).isEmpty)

    // tombstone half the docs: the fraction trigger fires and purges
    ShardStore.addTombstones(
      Seq((1L, "superseded"), (2L, "superseded")).toDF("doc_id", "reason"), root)
    assert(ShardStore.maybeCompact(spark, root).isDefined)
    assert(spark.read.parquet(ShardStore.dataDir(spark, root))
      .filter($"doc_id" <= 2L).count() == 0)
    assert(ShardStore.maybeCompact(spark, root).isEmpty, "debt reset after compaction")

    // many tiny appended files: the file-count trigger fires
    ShardStore.compact(spark, root, maxRecordsPerFile = 1L)
    assert(ShardStore.maybeCompact(spark, root, maxFilesPerPartition = 1).isDefined)
  }

  test("compaction flips the pointer; the previous version survives one cycle as a grace copy") {
    val docs = Seq((1L, "en", filler("ga")), (2L, "en", filler("gb")))
      .toDF("doc_id", "lang", "text")
    val st = TrainingPipeline.bootstrapState(docs)
    val root = java.nio.file.Files.createTempDirectory("graft_ver").toString + "/shards"
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)

    ShardStore.init(docs, st.manifest, root)
    val d0 = ShardStore.dataDir(spark, root)
    val before = ShardStore.read(spark, root).select($"doc_id").as[Long].collect().sorted

    ShardStore.compact(spark, root)
    val d1 = ShardStore.dataDir(spark, root)
    assert(d1 != d0, "compact must flip the pointer to a fresh version dir")
    // a reader that resolved the OLD pointer mid-compact keeps reading
    // intact files — the old version dir is retained for one cycle
    assert(f.exists(p(d0)), "previous version must survive one compaction")
    assert(spark.read.parquet(d0).select($"doc_id").as[Long].collect().sorted
      .sameElements(before), "grace copy must still be a complete table")
    assert(ShardStore.read(spark, root).select($"doc_id").as[Long].collect().sorted
      .sameElements(before))

    ShardStore.compact(spark, root)
    val d2 = ShardStore.dataDir(spark, root)
    assert(d2 != d1)
    assert(!f.exists(p(d0)), "a version two compactions old is reclaimed")
    assert(f.exists(p(d1)), "the immediately previous version is retained")
    // the root path itself was resolvable throughout — no missing-root
    // window exists in the pointer design
    assert(f.exists(p(root)) && f.exists(p(s"$root/LATEST")))

    // time travel over the retained window: both readable versions list,
    // resolve, and carry the same live rows (no tombstones in between);
    // a reclaimed version fails loudly
    assert(ShardStore.versions(spark, root) == Seq(1L, 2L))
    for (v <- Seq(1L, 2L))
      assert(ShardStore.readVersion(spark, root, v)
        .select($"doc_id").as[Long].collect().sorted.sameElements(before), s"v$v")
    val ex = intercept[IllegalArgumentException] {
      ShardStore.readVersion(spark, root, 0L)
    }
    assert(ex.getMessage.contains("not retained"))
  }

  test("a root with no pointer and no committed version fails loudly") {
    val docs = Seq((1L, "en", filler("ra")), (2L, "en", filler("rb")))
      .toDF("doc_id", "lang", "text")
    val st = TrainingPipeline.bootstrapState(docs)
    val f = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def assertLoud(root: String): Unit = {
      val r = intercept[IllegalArgumentException] { ShardStore.read(spark, root) }
      assert(r.getMessage.contains("not a shard table"), r.getMessage)
      val a = intercept[IllegalArgumentException] {
        ShardStore.append(docs, st.manifest, root)
      }
      assert(a.getMessage.contains("not a shard table"), a.getMessage)
    }

    // a table whose pointer and commit marker were both lost: its v0
    // files are still there, but nothing says they are complete
    val damaged = java.nio.file.Files.createTempDirectory("graft_rc").toString + "/shards"
    ShardStore.init(docs, st.manifest, damaged)
    assert(f.delete(p(s"$damaged/LATEST"), false))
    assert(f.delete(p(s"$damaged/commits/v0"), false))
    assertLoud(damaged)

    // parquet files straight under the root: not this store's layout
    val bare = java.nio.file.Files.createTempDirectory("graft_rc_bare").toString + "/shards"
    st.manifest.write.parquet(bare)
    assertLoud(bare)

    // a root that does not exist yet is created by its first append
    val fresh = java.nio.file.Files.createTempDirectory("graft_rc_new").toString + "/shards"
    ShardStore.append(docs, st.manifest, fresh)
    assert(ShardStore.versions(spark, fresh) == Seq(0L))
    assert(ShardStore.read(spark, fresh).count() == 2)
  }

  private def manifestOf(ids: Long*) = ids.map(i => ("train", "en", 0L, i, 45L))
    .toDF("split", "lang", "bin", "doc_id", "n_tokens")

  test("init fails loudly on a manifest row with no document and commits no version") {
    val docs = Seq((1L, "en", filler("ma"))).toDF("doc_id", "lang", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_nodoc").toString + "/shards"
    val e = intercept[IllegalArgumentException] { ShardStore.init(docs, manifestOf(1L, 2L), root) }
    assert(e.getMessage.contains("doc_id=2 has no document"), e.getMessage)
    val r = intercept[IllegalArgumentException] { ShardStore.read(spark, root) }
    assert(r.getMessage.contains("no committed version"), r.getMessage)
  }

  test("append fails loudly on a manifest row with no document and lands none of its rows") {
    val docs = Seq((1L, "en", filler("mb")), (3L, "en", filler("mc"))).toDF("doc_id", "lang", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_nodoc").toString + "/shards"
    ShardStore.init(docs, manifestOf(1L), root)
    def live() = ShardStore.read(spark, root).orderBy($"doc_id").collect().toSeq
    val before = live()
    val e = intercept[IllegalArgumentException] {
      ShardStore.append(docs, manifestOf(3L, 4L), root)
    }
    assert(e.getMessage.contains("doc_id=4 has no document"), e.getMessage)
    assert(live() == before)
  }

  test("counted maybeCompact runs zero Spark jobs below the debt threshold") {
    val docs = Seq((1L, "en", filler("za")), (2L, "en", filler("zb")))
      .toDF("doc_id", "lang", "text")
    val st = TrainingPipeline.bootstrapState(docs)
    val root = java.nio.file.Files.createTempDirectory("graft_mc0").toString + "/shards"
    ShardStore.init(docs, st.manifest, root)
    val liveDocs = st.manifest.count() // the ingest loop has this from its state

    // count only THIS thread's jobs (suites run in parallel): job-group
    // ids are thread-local and ride the job-start event's properties
    val group = s"mc-probe-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "maybeCompact debt probe")
      val fired = ShardStore.maybeCompact(spark, root,
        liveDocs = liveDocs, deadDocs = 0L,
        maxFilesPerPartition = 64, maxTombstoneFrac = 0.2, maxRecordsPerFile = 0L)
      spark.sparkContext.clearJobGroup()
      assert(fired.isEmpty, "healthy table must not compact")
      Thread.sleep(1000) // let the async listener bus drain
      assert(jobs.get() == 0,
        s"debt check ran ${jobs.get()} Spark job(s) — it must be listing-only")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // ---- the version log under compaction, over a local FS and over
  // rename-as-copy (graftoss:, see CloudRenameSpec) ----

  private def ids(root: String): Seq[Long] =
    ShardStore.read(spark, root).select($"doc_id").as[Long].collect().sorted.toSeq

  for (scheme <- Seq("file", "graftoss")) {
    test(s"a compaction whose rewrite fails fences nothing over $scheme") {
      val docs = Seq((1L, "en", filler("wa")), (2L, "en", filler("wb")))
        .toDF("doc_id", "lang", "text")
      val root = StoreFixtures.newRoot(scheme, "graft_shard_fail") + "/shards"
      ShardStore.init(docs, TrainingPipeline.bootstrapState(docs).manifest, root)
      val before = ids(root)
      val f = StoreFixtures.fsOf(root)
      val live = new org.apache.hadoop.fs.Path(ShardStore.dataDir(spark, root))
      // file: a corrupt data file the rewrite trips on; graftoss: a
      // crash in the rewrite's own output renames
      val corrupt = new org.apache.hadoop.fs.Path(live, "split=train/lang=en/corrupt.parquet")
      if (scheme == "file") StoreFixtures.write(f, corrupt, "not parquet")
      else ObjectStoreFs.armCrash(root, afterFiles = 0)
      try intercept[Exception] { ShardStore.compact(spark, root) }
      finally ObjectStoreFs.disarm(root)
      f.delete(corrupt, false)
      assert(StoreFixtures.children(s"$root/v1").isEmpty, "a failed rewrite leaves no dir")

      ShardStore.compact(spark, root) // no fence left behind
      assert(ShardStore.versions(spark, root) == Seq(0L, 1L))
      assert(ids(root) == before)
    }

    test(s"a claimed but unflipped compaction is read at once, and reads never write, over $scheme") {
      val docs = Seq((1L, "en", filler("ha")), (2L, "en", filler("hb")))
        .toDF("doc_id", "lang", "text")
      val root = StoreFixtures.newRoot(scheme, "graft_shard_claimed") + "/shards"
      ShardStore.init(docs, TrainingPipeline.bootstrapState(docs).manifest, root)
      val before = ids(root)
      // a compactor wrote v1 (a copy of v0 is a valid rewrite), claimed
      // it, and died before flipping LATEST
      val f = StoreFixtures.fsOf(root)
      val token = "deadbeef-dead-dead-dead-deaddeadbeef"
      org.apache.hadoop.fs.FileUtil.copy(f, new org.apache.hadoop.fs.Path(ShardStore.dataDir(spark, root)),
        f, new org.apache.hadoop.fs.Path(s"$root/v1/$token"), false,
        spark.sparkContext.hadoopConfiguration)
      StoreFixtures.claimed(root, 1L, token)
      val files = StoreFixtures.files(root)
      assert(ids(root) == before)
      assert(ShardStore.dataDir(spark, root) == s"$root/v1/$token")
      assert(ShardStore.versions(spark, root) == Seq(0L, 1L))
      assert(StoreFixtures.files(root) == files, "a read wrote to the store")
    }
  }
}
