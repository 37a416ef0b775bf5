package graft

import java.io.IOException
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileUtil, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TrainingPipeline
import graft.sources.StateStore

/** An object-store-semantics FileSystem: rename is COPY-THEN-DELETE
  * (file at a time, the S3/GCS reality — no atomic directory rename
  * exists), refusing an existing destination. A crash budget can be
  * armed on a root so the Nth file copy under it inside a rename
  * throws — the mid-rename crash the commit protocols must survive —
  * and `exists` and `open` run the [[StoreFixtures.raceFor]] hook.
  * Must be top-level with a no-arg ctor (Hadoop reflection). */
class ObjectStoreFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftoss:///")
  override def getScheme: String = "graftoss"
  override def exists(p: Path): Boolean = {
    StoreFixtures.beforeLookup(p)
    super.exists(p)
  }
  override def open(p: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    StoreFixtures.beforeLookup(p)
    super.open(p, bufferSize)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (!exists(src) || exists(dst)) false
    else { copyRec(src, dst); delete(src, true); true }
  }

  private def copyRec(src: Path, dst: Path): Unit = {
    if (getFileStatus(src).isDirectory) {
      // an object store has no directories: a copy that dies before its
      // next file leaves nothing at `dst`, not even an empty dir
      ObjectStoreFs.budgetFor(src).foreach(_.maybeCrash())
      mkdirs(dst)
      listStatus(src).sortBy(_.getPath.getName).foreach { c =>
        copyRec(c.getPath, new Path(dst, c.getPath.getName))
      }
    } else {
      val budget = ObjectStoreFs.budgetFor(src)
      budget.foreach(_.maybeCrash())
      val in = open(src)
      val out = create(dst, false)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 16)
      finally { in.close(); out.close() }
      budget.foreach(_.copied.incrementAndGet()); ()
    }
  }
}

/** Crash budgets keyed by root, like [[StoreFixtures.raceFor]]: suites
  * share one test JVM and run in parallel, so a budget fires only on
  * copies under the root it was armed for. */
object ObjectStoreFs {
  private[graft] final class Budget(afterFiles: Int) {
    val copied = new AtomicInteger(0)
    def maybeCrash(): Unit =
      if (copied.get() >= afterFiles)
        throw new IOException("simulated crash mid-rename (object-store copy)")
  }
  private val budgets = new ConcurrentHashMap[String, Budget]()
  private def key(p: Path): String = p.toUri.getPath.stripSuffix("/")

  /** Throw before the (afterFiles+1)th file copy under `root`, and on
    * every one after it, until [[disarm]]. */
  def armCrash(root: String, afterFiles: Int): Unit = {
    budgets.put(key(new Path(root)), new Budget(afterFiles)); ()
  }
  def disarm(root: String): Unit = { budgets.remove(key(new Path(root))); () }

  private[graft] def budgetFor(p: Path): Option[Budget] = {
    val path = key(p)
    budgets.asScala.collectFirst {
      case (root, b) if path == root || path.startsWith(root + "/") => b
    }
  }
}

/** Commit protocols vs rename-as-copy (SURVEY.md §2 rows 258/93):
  * object stores have no atomic directory rename — a "rename" is a
  * per-file copy then a source delete, so a crash mid-rename leaves
  * BOTH sides present, one partial. These tests prove the healing
  * paths against exactly that:
  *
  *  - StateStore's materialize step, run by the next writer: src-and-dst
  *    both present means the dst is a partial copy (a completed rename
  *    deletes its source) — it is dropped and re-renamed, never
  *    skipped;
  *  - the full commit lifecycle (compaction included) and the classic
  *    interleaved lost-update run end-to-end over the `graftoss:`
  *    scheme, parquet committer renames included.
  *
  * StateCommitSpec runs the protocol's crash windows over `graftoss:`
  * too. */
class CloudRenameSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def newOssRoot(name: String): String = {
    conf.set("fs.graftoss.impl", classOf[ObjectStoreFs].getName)
    "graftoss:" + java.nio.file.Files.createTempDirectory(name).toString
  }

  private def filler(tag: String) = (1 to 45).map(i => s"$tag$i").mkString(" ")
  private def corpusOf(n: Int) =
    (1 to n).map(i => (i.toLong, "en", filler(s"c${i}w")))
      .toDF("doc_id", "lang", "text")
  private def batchOf(base: Long, tag: String) =
    (1 to 3).map(i => (base + i, "en", filler(s"$tag$i")))
      .toDF("doc_id", "lang", "text")

  // ---- the protocols end-to-end over copy-rename ----

  test("StateStore bootstrap/delta/load/compact lifecycle over graftoss: (rename-as-copy)") {
    val root = newOssRoot("graft_oss_state") + "/state"
    val v0 = StateStore.commitBootstrap(
      spark, TrainingPipeline.bootstrapState(corpusOf(12)), root)
    val st = StateStore.load(spark, root)
    assert(st.nonEmpty && st.get.manifest.count() == 12)
    val delta = TrainingPipeline.runIncremental(st.get, batchOf(100L, "bw"))
    val v1 = StateStore.commitDelta(spark, delta, root)
    assert(v1 == v0 + 1)
    val vC = StateStore.compact(spark, root) // a new version over copy-rename
    assert(vC == v1 + 1 && StateStore.latestVersion(spark, root).contains(vC))
    val live = StateStore.load(spark, root).get.manifest
      .select($"doc_id").as[Long].collect().toSet
    assert(live == ((1 to 12).map(_.toLong) ++ (1 to 3).map(100L + _)).toSet)
  }

  test("interleaved writers over graftoss: — no lost update under copy-rename") {
    val root = newOssRoot("graft_oss_race") + "/state"
    StateStore.commitBootstrap(spark,
      TrainingPipeline.bootstrapState(corpusOf(4)), root)
    var aCalls = 0
    val vA = StateStore.commitDeltaOptimistic(spark, root) { st =>
      aCalls += 1
      if (aCalls == 1) {
        val vB = StateStore.commitDeltaOptimistic(spark, root) { stB =>
          TrainingPipeline.runIncremental(stB.get, batchOf(3000L, "bb"))
        }
        assert(vB == 1L)
      }
      TrainingPipeline.runIncremental(st.get, batchOf(2000L, "aa"))
    }
    assert(vA == 2L && aCalls == 2)
    val ids = StateStore.load(spark, root).get.manifest
      .select($"doc_id").as[Long].collect().toSet
    assert(Set(2001L, 2002L, 2003L).subsetOf(ids))
    assert(Set(3001L, 3002L, 3003L).subsetOf(ids))
  }

  test("a healer crash mid-move leaves a partial dst; the next writer redoes it") {
    val root = newOssRoot("graft_oss_heal") + "/state"
    StateStore.commitBootstrap(spark,
      TrainingPipeline.bootstrapState(corpusOf(3)), root)
    val v1 = StateStore.commitDeltaOptimistic(spark, root) { st =>
      TrainingPipeline.runIncremental(st.get, batchOf(2000L, "aa"))
    }
    assert(v1 == 1L)
    // a writer CLAIMED v2 with staged artifacts but died before its
    // moves (the StateRaceSpec fixture, over graftoss:)
    val f = new Path(root).getFileSystem(conf)
    val token = "deadbeef-dead-dead-dead-deaddeadbeef"
    Seq("hashes", "sigs", "shingles", "manifest", "dead").foreach { t =>
      FileUtil.copy(f, new Path(s"$root/$t/ingest=1"),
        f, new Path(s"$root/staging/$token/$t"), false, conf)
    }
    FileUtil.copy(f, new Path(s"$root/labels/v=1"),
      f, new Path(s"$root/staging/$token/labels"), false, conf)
    StoreFixtures.claimedDelta(root, 2L, token, 0L, StoreFixtures.stateMoves(root, 2L))

    // the first healing writer crashes after ONE file copy: its current
    // table dst is left PARTIAL with the staged src still present
    def ingest(base: Long, tag: String) = StateStore.commitDeltaOptimistic(spark, root) { st =>
      TrainingPipeline.runIncremental(st.get, batchOf(base, tag))
    }
    ObjectStoreFs.armCrash(root, afterFiles = 1)
    try intercept[Exception] { ingest(3000L, "bb") }
    finally ObjectStoreFs.disarm(root)
    assert(f.exists(new Path(s"$root/staging/$token"))) // src survived the crash
    // a reader meanwhile reads v1 and does not touch the partial dst
    assert(StateStore.latestVersion(spark, root).contains(1L))

    // the next writer detects src-and-dst, drops the partial dst, and
    // completes v2 before committing v3 — the healed state loads whole
    assert(ingest(3000L, "bb") == 3L)
    assert(!f.exists(new Path(s"$root/staging/$token")))
    val st = StateStore.load(spark, root)
    assert(st.nonEmpty && st.get.manifest.count() >= 9)
  }
}
