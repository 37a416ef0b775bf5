package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TrainingPipeline
import graft.sources.{ShardStore, StateStore}

/** Optimistic-concurrency commits (the rows-90/93 Delta-story close):
  * a lost claim means RECOMPUTE against the winner's state — never a
  * lost update; version numbers commit exactly once; a version claimed
  * but not yet moved is not read, readers never write, and the next
  * writer heals it forward — without undoing a live commit it heals; the protocol holds
  * over the non-file `graftfs:` scheme; racing ShardStore compactions
  * converge on one winner, and a shard reader racing a compaction
  * reads a whole version without writing. */
class StateRaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def filler(tag: String) = (1 to 45).map(i => s"$tag$i").mkString(" ")
  private def corpusOf(n: Int) =
    (1 to n).map(i => (i.toLong, "en", filler(s"c${i}w"))).toDF("doc_id", "lang", "text")
  private def batchOf(base: Long, tag: String) =
    (1 to 3).map(i => (base + i, "en", filler(s"$tag${i}w"))).toDF("doc_id", "lang", "text")

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestIds(root: String): Set[Long] = {
    import spark.implicits._
    StateStore.load(spark, root).get.manifest
      .select($"doc_id").as[Long].collect().toSet
  }

  test("two interleaved writers: the loser recomputes, no update is lost") {
    val root = java.nio.file.Files.createTempDirectory("graft_race").toString
    StateStore.commitBootstrap(spark,
      TrainingPipeline.bootstrapState(corpusOf(4)), root)
    val batchA = batchOf(2000L, "aa")
    val batchB = batchOf(3000L, "bb")

    var aCalls = 0
    val vA = StateStore.commitDeltaOptimistic(spark, root) { st =>
      aCalls += 1
      if (aCalls == 1) {
        // writer B lands a full commit BETWEEN A's state read and A's
        // claim — the classic lost-update interleaving
        val vB = StateStore.commitDeltaOptimistic(spark, root) { stB =>
          TrainingPipeline.runIncremental(stB.get, batchB)
        }
        assert(vB == 1L)
      }
      TrainingPipeline.runIncremental(st.get, batchA)
    }
    assert(vA == 2L)      // A lost v1 to B and committed v2
    assert(aCalls == 2)   // A recomputed against B's state
    val ids = manifestIds(root)
    assert(Set(2001L, 2002L, 2003L).subsetOf(ids), s"A's docs lost: $ids")
    assert(Set(3001L, 3002L, 3003L).subsetOf(ids), s"B's docs lost: $ids")
    assert(StateStore.latestVersion(spark, root).contains(2L))
  }

  test("a perpetually losing writer fails loudly after maxAttempts") {
    val root = java.nio.file.Files.createTempDirectory("graft_race2").toString
    StateStore.commitBootstrap(spark,
      TrainingPipeline.bootstrapState(corpusOf(3)), root)
    var n = 0L
    intercept[java.util.ConcurrentModificationException] {
      StateStore.commitDeltaOptimistic(spark, root, maxAttempts = 2) { st =>
        n += 1
        StateStore.commitDeltaOptimistic(spark, root) { inner =>
          TrainingPipeline.runIncremental(inner.get, batchOf(5000L + n * 10, s"x$n"))
        }
        TrainingPipeline.runIncremental(st.get, batchOf(4000L, "a"))
      }
    }
  }

  test("crash between claim and flip: readers never write, the next writer heals") {
    val root = java.nio.file.Files.createTempDirectory("graft_race3").toString
    StateStore.commitBootstrap(spark,
      TrainingPipeline.bootstrapState(corpusOf(3)), root)
    val v1 = StateStore.commitDeltaOptimistic(spark, root) { st =>
      TrainingPipeline.runIncremental(st.get, batchOf(2000L, "aa"))
    }
    assert(v1 == 1L)
    // simulate a writer that CLAIMED v2 with staged artifacts but died
    // before its moves + flip: stage = a copy of v1's artifact dirs,
    // marker carries the token and the moves, LATEST still says 1
    val f = fsOf(root)
    val conf = spark.sparkContext.hadoopConfiguration
    val token = "deadbeef-dead-dead-dead-deaddeadbeef"
    Seq("hashes", "sigs", "shingles", "manifest", "dead").foreach { t =>
      FileUtil.copy(f, new Path(s"$root/$t/ingest=1"),
        f, new Path(s"$root/staging/$token/$t"), false, conf)
    }
    FileUtil.copy(f, new Path(s"$root/labels/v=1"),
      f, new Path(s"$root/staging/$token/labels"), false, conf)
    StoreFixtures.claimedDelta(root, 2L, token, 0L, StoreFixtures.stateMoves(root, 2L))

    // readers get v1, whole, and leave every file as they found it
    val files = StoreFixtures.files(root)
    assert(StateStore.latestVersion(spark, root).contains(1L))
    assert(manifestIds(root) == Set(1L, 2L, 3L, 2001L, 2002L, 2003L))
    assert(StoreFixtures.files(root) == files, "a reader wrote")

    // the next writer heals v2 forward before claiming v3
    val v3 = StateStore.commitDeltaOptimistic(spark, root) { st =>
      TrainingPipeline.runIncremental(st.get, batchOf(3000L, "bb"))
    }
    assert(v3 == 3L)
    assert(f.exists(new Path(s"$root/hashes/ingest=2")))
    assert(f.exists(new Path(s"$root/labels/v=2")))
    assert(!f.exists(new Path(s"$root/staging/$token")))
    assert(StateStore.latestVersion(spark, root).contains(3L))
    assert(Set(2001L, 3001L).subsetOf(manifestIds(root)))
  }

  test("the interleaved-writer protocol holds over graftfs:") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftfs.impl", classOf[GraftFs].getName)
    val root = "graftfs:" +
      java.nio.file.Files.createTempDirectory("graft_race_gfs").toString
    StateStore.commitBootstrap(spark,
      TrainingPipeline.bootstrapState(corpusOf(3)), root)
    var aCalls = 0
    val vA = StateStore.commitDeltaOptimistic(spark, root) { st =>
      aCalls += 1
      if (aCalls == 1)
        StateStore.commitDeltaOptimistic(spark, root) { stB =>
          TrainingPipeline.runIncremental(stB.get, batchOf(3000L, "bb"))
        }
      TrainingPipeline.runIncremental(st.get, batchOf(2000L, "aa"))
    }
    assert(vA == 2L && aCalls == 2)
    val ids = manifestIds(root)
    assert(Set(2001L, 3001L).subsetOf(ids))
  }

  test("a writer healing a delta commit mid-move over graftfs: leaves it whole") {
    val root = StoreFixtures.newRoot("graftfs", "graft_race7")
    StateStore.commitBootstrap(spark,
      TrainingPipeline.bootstrapState(corpusOf(3)), root)
    // the committer of v1, past its claim, looks up its first
    // destination: a second writer heals v1 forward right then and
    // commits v2, and the first committer must not undo the moves the
    // second one made
    var seen = Set.empty[Long]
    StoreFixtures.raceFor(new Path(s"$root/hashes/ingest=1")) {
      StateStore.commitDeltaOptimistic(spark, root) { st =>
        seen = st.get.manifest.select($"doc_id").as[Long].collect().toSet
        TrainingPipeline.runIncremental(st.get, batchOf(3000L, "bb"))
      }
    }
    val v1 = StateStore.commitDeltaOptimistic(spark, root) { st =>
      TrainingPipeline.runIncremental(st.get, batchOf(2000L, "aa"))
    }
    assert(v1 == 1L)
    assert(Set(2001L, 2002L, 2003L).subsetOf(seen))
    assert(StateStore.latestVersion(spark, root).contains(2L))
    assert(manifestIds(root) == seen ++ Set(3001L, 3002L, 3003L))
    assert(fsOf(root).exists(new Path(s"$root/hashes/ingest=1")))
  }

  for (scheme <- Seq("graftfs", "graftoss"))
    test(s"racing shard compactions over $scheme: one wins, the loser reports its file count") {
      val corpus = corpusOf(4)
      val root = StoreFixtures.newRoot(scheme, "graft_race4") + "/shards"
      ShardStore.init(corpus, TrainingPipeline.bootstrapState(corpus).manifest, root)
      def ids = ShardStore.read(spark, root).select($"doc_id").as[Long].collect().sorted.toSeq
      val before = ids

      // the winner compacts between the loser's rewrite and its claim
      var winnerFiles = -1
      StoreFixtures.raceFor(new Path(s"$root/commits/v1")) {
        winnerFiles = ShardStore.compact(spark, root, maxRecordsPerFile = 1L)
      }
      val loserFiles = ShardStore.compact(spark, root)
      assert(winnerFiles == corpus.count() && loserFiles == winnerFiles,
        s"winner $winnerFiles, loser $loserFiles")
      assert(ShardStore.versions(spark, root) == Seq(0L, 1L))
      assert(StoreFixtures.children(s"$root/v1").size == 1, "the loser discards its dir")
      assert(ids == before)
    }

  for (scheme <- Seq("graftfs", "graftoss"))
    test(s"a reader racing a compaction over $scheme reads a whole version and writes nothing") {
      val corpus = corpusOf(4)
      val root = StoreFixtures.newRoot(scheme, "graft_race5") + "/shards"
      ShardStore.init(corpus, TrainingPipeline.bootstrapState(corpus).manifest, root)
      def ids = ShardStore.read(spark, root).select($"doc_id").as[Long].collect().sorted.toSeq
      val before = ids
      // a reader resolves the table while the compactor, its rewrite
      // fully written, is about to claim v1: it reads v0, whole, and
      // leaves the store as it found it
      var seen = Seq.empty[Long]
      var untouched = false
      StoreFixtures.raceFor(new Path(s"$root/commits/v1")) {
        val files = StoreFixtures.files(root)
        seen = ids
        untouched = StoreFixtures.files(root) == files
      }
      ShardStore.compact(spark, root)
      assert(seen == before && untouched)
      assert(ids == before)
      assert(ShardStore.versions(spark, root) == Seq(0L, 1L))
    }

  for (scheme <- Seq("graftfs", "graftoss"))
    test(s"a compaction landing between a reader's pointer and marker lookups over $scheme is read, not refused") {
      val corpus = corpusOf(4)
      val root = StoreFixtures.newRoot(scheme, "graft_race6") + "/shards"
      ShardStore.init(corpus, TrainingPipeline.bootstrapState(corpus).manifest, root)
      def ids = ShardStore.read(spark, root).select($"doc_id").as[Long].collect().sorted.toSeq
      val before = ids
      // a whole compaction (claim AND flip) lands as the reader opens
      // LATEST: the markers the reader lists afterwards must cover it
      StoreFixtures.raceFor(new Path(s"$root/LATEST")) { ShardStore.compact(spark, root) }
      assert(ids == before)
      assert(ShardStore.versions(spark, root) == Seq(0L, 1L))
    }
}
