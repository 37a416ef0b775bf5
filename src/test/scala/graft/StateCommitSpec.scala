package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TrainingPipeline
import graft.sources.StateStore

/** Delta state commits ([[StateStore]]): commit I/O is O(batch) —
  * independent of corpus size — the store round-trips the exact state
  * `runIncremental` maintains in memory (including tombstone
  * application), and compaction consolidates deltas without changing
  * the live state.
  */
class StateCommitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def filler(tag: String) =
    (1 to 45).map(i => s"$tag$i").mkString(" ")

  private def corpusOf(n: Int) =
    (1 to n).map(i => (i.toLong, "en", filler(s"c${i}w"))).toDF("doc_id", "lang", "text")

  private val batch =
    (1 to 8).map(i => (1000L + i, "en", filler(s"b${i}w"))).toDF("doc_id", "lang", "text")

  /** Total bytes under `root`, recursively (the ShardPruningSpec
    * measurement pattern: file listings, no data read). */
  private def bytes(root: String): Long = {
    val p = new Path(root)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) 0L
    else {
      val it = f.listFiles(p, true)
      var sum = 0L
      while (it.hasNext) sum += it.next().getLen
      sum
    }
  }

  private def bootThenIngest(nCorpus: Int): (Long, Long) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_sc_$nCorpus").toString
    StateStore.commitBootstrap(spark, TrainingPipeline.bootstrapState(corpusOf(nCorpus)), root)
    val bootBytes = bytes(root)
    val delta = TrainingPipeline.runIncremental(
      StateStore.load(spark, root).get, batch)
    StateStore.commitDelta(spark, delta, root)
    (bootBytes, bytes(root) - bootBytes)
  }

  test("second ingest's commit bytes are independent of corpus size") {
    val (boot1, delta1) = bootThenIngest(24)
    val (boot8, delta8) = bootThenIngest(192) // 8x the corpus
    assert(boot8 > 4L * boot1,
      s"sanity: bootstrap commits must scale with the corpus ($boot1 -> $boot8)")
    assert(delta8 < (delta1 * 3) / 2,
      s"delta-commit bytes grew with the corpus: $delta1 at 24 docs vs $delta8 at 192 " +
        "— the commit is rewriting corpus-sized state")
  }

  test("store round-trip equals the in-memory state, tombstones applied") {
    // the IncrementalPipelineSpec bridge scenario, through the store
    val core = (1 to 30).map(i => s"core$i").mkString(" ")
    def suffixed(tag: String) =
      core + " " + (1 to 15).map(i => s"$tag$i").mkString(" ")
    val corpus = Seq(
      (1L, "en", suffixed("alpha")),
      (2L, "en", suffixed("beta")),
      (3L, "en", filler("pad"))).toDF("doc_id", "lang", "text")
    val bridge = Seq((10L, "en", core)).toDF("doc_id", "lang", "text")

    val root = java.nio.file.Files.createTempDirectory("graft_sc_rt").toString
    StateStore.commitBootstrap(spark, TrainingPipeline.bootstrapState(corpus), root)
    val delta = TrainingPipeline.runIncremental(StateStore.load(spark, root).get, bridge)
    assert(delta.tombstones.as[(Long, String)].collect().toMap == Map(2L -> "superseded"))
    val v = StateStore.commitDelta(spark, delta, root)

    val loaded = StateStore.loadVersion(spark, root, v)
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.head, cols.tail: _*).collect().map(_.toString).sorted.toSeq
    assert(rows(loaded.manifest, "doc_id", "split", "lang", "bin", "n_tokens") ==
      rows(delta.state.manifest, "doc_id", "split", "lang", "bin", "n_tokens"))
    assert(rows(loaded.hashes, "h") == rows(delta.state.hashes, "h"))
    assert(rows(loaded.shingles, "doc_id", "split", "h") ==
      rows(delta.state.shingles, "doc_id", "split", "h"))
    assert(rows(loaded.labels, "id", "comp") == rows(delta.state.labels, "id", "comp"))
    assert(loaded.sigs.count() == delta.state.sigs.count())
    // the superseded doc is dead in the store-backed views too
    assert(loaded.manifest.filter($"doc_id" === 2L).count() == 0)
    assert(loaded.shingles.filter($"doc_id" === 2L).count() == 0)
    // time travel: v0 still has it
    assert(StateStore.loadVersion(spark, root, 0L).manifest
      .filter($"doc_id" === 2L).count() == 1)
  }

  test("compact consolidates delta partitions and preserves the live state") {
    val root = java.nio.file.Files.createTempDirectory("graft_sc_cp").toString
    StateStore.commitBootstrap(spark, TrainingPipeline.bootstrapState(corpusOf(6)), root)
    var st = StateStore.load(spark, root).get
    Seq(2000L, 3000L).foreach { base =>
      val b = (1 to 3).map(i => (base + i, "en", filler(s"x${base}_$i")))
        .toDF("doc_id", "lang", "text")
      val d = TrainingPipeline.runIncremental(st, b)
      StateStore.commitDelta(spark, d, root)
      st = d.state
    }
    val before = st.manifest.select($"doc_id").as[Long].collect().sorted.toSeq

    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def deltaParts = f.listStatus(new Path(s"$root/hashes"))
      .count(_.getPath.getName.startsWith("ingest="))
    assert(deltaParts == 3, s"expected 3 delta partitions, saw $deltaParts")

    assert(StateStore.maybeCompact(spark, root, maxDeltas = 16).isEmpty,
      "no compaction below the debt threshold")
    val vC = StateStore.maybeCompact(spark, root, maxDeltas = 2)
    assert(vC.contains(3L) && StateStore.latestVersion(spark, root) == vC,
      "compaction commits the next version and LATEST names it")
    assert(deltaParts == 1, "compaction must consolidate the delta partitions")
    val after = StateStore.load(spark, root).get.manifest
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(after == before, "compaction changed the live manifest")
    // versions keep counting past a compaction
    val d = TrainingPipeline.runIncremental(StateStore.load(spark, root).get,
      Seq((4001L, "en", filler("post"))).toDF("doc_id", "lang", "text"))
    assert(StateStore.commitDelta(spark, d, root) == 4L)
  }

  // ---- crash windows of the one commit protocol, built literally, over
  // a local FS and over rename-as-copy (graftoss:, see CloudRenameSpec) ----

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fsOf(root: String) = new Path(root).getFileSystem(conf)
  private val token = "deadbeef-dead-dead-dead-deaddeadbeef"

  private def newRoot(scheme: String, name: String): String = {
    conf.set("fs.graftoss.impl", classOf[ObjectStoreFs].getName)
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    (if (scheme == "file") dir else s"$scheme:$dir") + "/state"
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The version-1 store every compaction window starts from: a
    * bootstrap and one delta that tombstones doc 2. */
  private def storeAtV1(root: String): Unit = {
    val core = (1 to 30).map(i => s"core$i").mkString(" ")
    def suffixed(tag: String) = core + " " + (1 to 15).map(i => s"$tag$i").mkString(" ")
    val corpus = Seq((1L, "en", suffixed("alpha")), (2L, "en", suffixed("beta")),
      (3L, "en", filler("pad"))).toDF("doc_id", "lang", "text")
    StateStore.commitBootstrap(spark, TrainingPipeline.bootstrapState(corpus), root)
    val d = TrainingPipeline.runIncremental(StateStore.load(spark, root).get,
      Seq((10L, "en", core), (11L, "en", filler("new"))).toDF("doc_id", "lang", "text"))
    assert(StateStore.commitDelta(spark, d, root) == 1L && d.tombstones.count() == 1)
  }

  /** Rows of every live table, sorted and with duplicates kept, so a
    * doubled or half-copied partition shows. */
  private def live(root: String): Seq[Seq[String]] = {
    val st = StateStore.load(spark, root).get
    Seq(rows(st.manifest.select("doc_id", "split", "lang", "bin", "n_tokens")),
      rows(st.shingles.select("doc_id", "split", "h")), rows(st.hashes),
      rows(st.sigs.select("id")), rows(st.labels))
  }

  for (scheme <- Seq("file", "graftoss")) {
    test(s"crash (a) over $scheme: first commit dies while staging; replay commits v0") {
      val root = newRoot(scheme, "graft_sc_a")
      val st = TrainingPipeline.bootstrapState(corpusOf(3))
      // a first commit's half-staged artifacts, never claimed
      st.hashes.write.parquet(s"$root/staging/$token/hashes")
      st.sigs.limit(1).write.parquet(s"$root/staging/$token/sigs")
      if (scheme == "graftoss") { // and a real one, killed by a mid-rename crash
        ObjectStoreFs.armCrash(root, afterFiles = 1)
        try intercept[Exception] { StateStore.commitBootstrap(spark, st, root) }
        finally ObjectStoreFs.disarm(root)
      }
      assert(StateStore.load(spark, root).isEmpty)
      assert(StateStore.commitBootstrap(spark, st, root) == 0L)
      assert(StateStore.load(spark, root).get.manifest
        .select($"doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    }

    test(s"crash (b) over $scheme: claimed compaction heals forward, state unchanged") {
      val root = newRoot(scheme, "graft_sc_b")
      storeAtV1(root)
      val before = live(root)
      // a compaction that claimed base v2 and died before its moves:
      // the full live state staged, the marker names its token, base
      // and moves
      val st = StateStore.loadVersion(spark, root, 1L)
      val stage = s"$root/staging/$token"
      st.hashes.write.parquet(s"$stage/hashes")
      st.sigs.write.parquet(s"$stage/sigs")
      st.shingles.write.parquet(s"$stage/shingles")
      st.manifest.write.parquet(s"$stage/manifest")
      st.manifest.select($"doc_id").limit(0).write.parquet(s"$stage/dead")
      st.labels.write.parquet(s"$stage/labels")
      StoreFixtures.claimedDelta(root, 2L, token, 2L, StoreFixtures.stateMoves(root, 2L))
      val f = fsOf(root)
      // readers never write: they read v1 and leave the claim unmoved
      val files = StoreFixtures.files(root)
      assert(StateStore.latestVersion(spark, root).contains(1L))
      assert(live(root) == before)
      assert(StoreFixtures.files(root) == files, "a reader wrote")
      if (scheme == "graftoss") { // the first healing writer dies mid-copy
        ObjectStoreFs.armCrash(root, afterFiles = 1)
        try intercept[Exception] { StateStore.compact(spark, root) }
        finally ObjectStoreFs.disarm(root)
        assert(f.exists(new Path(stage)), "the staged source survives the crash")
      }
      // the next writer finishes v2's moves, then compacts on top of it
      assert(StateStore.compact(spark, root) == 3L)
      assert(!f.exists(new Path(stage)))
      assert(live(root) == before, "healed compaction changed the live state")
    }

    test(s"crash (c) over $scheme: pre-base leftovers stay unread, then get dropped") {
      val root = newRoot(scheme, "graft_sc_c")
      storeAtV1(root)
      val before = live(root)
      val f = fsOf(root)
      val tables = Seq("hashes", "sigs", "shingles", "manifest", "dead")
      def parts(t: String) =
        f.listStatus(new Path(s"$root/$t")).map(_.getPath.getName).sorted.toSeq
      // keep copies of the pre-base partitions, compact, put them back:
      // the flip landed, the deletion never ran
      val saved = java.nio.file.Files.createTempDirectory("graft_sc_c_saved").toString
      (tables :+ "labels").foreach(t => FileUtil.copy(f, new Path(s"$root/$t"),
        fsOf(saved), new Path(s"$saved/$t"), false, conf))
      assert(StateStore.compact(spark, root) == 2L)
      (tables :+ "labels").foreach(t => fsOf(saved).listStatus(new Path(s"$saved/$t"))
        .foreach(p => FileUtil.copy(fsOf(saved), p.getPath, f,
          new Path(s"$root/$t/${p.getPath.getName}"), false, conf)))
      assert(parts("manifest") == Seq("ingest=0", "ingest=1", "ingest=2"))
      assert(live(root) == before, "pre-base partitions leaked into the live state")

      assert(StateStore.compact(spark, root) == 3L)
      tables.foreach(t => assert(parts(t) == Seq("ingest=3"), s"$t: ${parts(t)}"))
      assert(parts("labels") == Seq("v=3"))
      assert(live(root) == before)
    }
  }

  test("a missing table root for a committed version fails loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft_sc_heal").toString
    StateStore.commitBootstrap(spark, TrainingPipeline.bootstrapState(corpusOf(5)), root)
    val f = new Path(root).getFileSystem(conf)

    // a table root that is GONE for a committed
    // version is corruption and must fail loudly, not read as empty
    assert(f.delete(new Path(s"$root/manifest"), true))
    val e = intercept[Exception] { StateStore.load(spark, root).get.manifest.count() }
    assert(e.getMessage.contains("damaged state root"), e.getMessage)
  }

  test("lost markers on a real corpus stay loud in every shape") {
    // lost markers on a REAL corpus (commits dir itself gone) remain
    // loud corruption
    val root2 = java.nio.file.Files.createTempDirectory("graft_sc_lost").toString
    StateStore.commitBootstrap(spark, TrainingPipeline.bootstrapState(corpusOf(3)), root2)
    val f2 = new Path(root2).getFileSystem(conf)
    assert(f2.delete(new Path(s"$root2/commits"), true))
    assert(f2.delete(new Path(s"$root2/LATEST"), false))
    val e = intercept[Exception] { StateStore.load(spark, root2) }
    assert(e.getMessage.contains("no commit marker"), e.getMessage)

    // the likeliest partial-damage shape: marker FILES (and LATEST)
    // lost while the commits/ directory itself survives — must stay
    // loud too, not read as an empty corpus
    val root3 = java.nio.file.Files.createTempDirectory("graft_sc_lostm").toString
    StateStore.commitBootstrap(spark, TrainingPipeline.bootstrapState(corpusOf(3)), root3)
    val f3 = new Path(root3).getFileSystem(conf)
    f3.listStatus(new Path(s"$root3/commits")).foreach(s => f3.delete(s.getPath, false))
    assert(f3.exists(new Path(s"$root3/commits")), "commits dir must survive")
    assert(f3.delete(new Path(s"$root3/LATEST"), false))
    val e3 = intercept[Exception] { StateStore.load(spark, root3) }
    assert(e3.getMessage.contains("no commit marker"), e3.getMessage)

    // the NEWEST marker lost while LATEST survives: healing LATEST back
    // to the newest surviving marker would silently drop a commit
    val root4 = java.nio.file.Files.createTempDirectory("graft_sc_lostn").toString
    StateStore.commitBootstrap(spark, TrainingPipeline.bootstrapState(corpusOf(3)), root4)
    StateStore.commitDelta(spark,
      TrainingPipeline.runIncremental(StateStore.load(spark, root4).get, batch), root4)
    val f4 = new Path(root4).getFileSystem(conf)
    assert(f4.delete(new Path(s"$root4/commits/v1"), false))
    val e4 = intercept[Exception] { StateStore.load(spark, root4) }
    assert(e4.getMessage.contains("refusing to roll the state back"), e4.getMessage)
  }
}
