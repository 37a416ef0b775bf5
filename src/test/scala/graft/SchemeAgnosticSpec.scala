package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TrainingPipeline
import graft.sources.{ShardStore, StateStore, Writer}

/** A local-disk FileSystem that ANSWERS to a non-`file:` scheme —
  * the honest sandbox stand-in for a cloud connector: registered by
  * class name through `fs.<scheme>.impl` (exactly how `gs://`/
  * `s3a://` register), with its own URI so Hadoop's checkPath
  * enforces that every internal path stays on the foreign scheme;
  * `exists` and `open` run the [[StoreFixtures.raceFor]] hook. Must be top-level
  * with a no-arg ctor (Hadoop reflection). */
class GraftFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
  override def exists(p: Path): Boolean = {
    StoreFixtures.beforeLookup(p)
    super.exists(p)
  }
  override def open(p: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    StoreFixtures.beforeLookup(p)
    super.open(p, bufferSize)
  }
}

/** Scheme-agnostic warehouse roots (SURVEY.md §2 row 234): every
  * store (StateStore, ShardStore, Writer) resolves its filesystem
  * through Hadoop's `Path.getFileSystem`, so a `gs://`/`s3a://` root
  * is a path-string swap, not a code change. The sandbox has no cloud
  * egress, so the pin runs the full commit/append/compact lifecycles
  * over a NON-`file:` scheme (`graftfs:` → RawLocalFileSystem,
  * registered via `fs.graftfs.impl` exactly as a cloud connector
  * would be): any hidden `java.io.File` or `file:` assumption in a
  * read/list/rename path fails these tests with an unknown-scheme or
  * wrong-FS error. */
class SchemeAgnosticSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def filler(tag: String) = (1 to 45).map(i => s"$tag$i").mkString(" ")

  private def newRoot(name: String): String = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftfs.impl", classOf[GraftFs].getName)
    "graftfs:" + java.nio.file.Files.createTempDirectory(name).toString
  }

  test("the graftfs scheme is really non-file end to end") {
    val root = newRoot("graft_scheme_probe")
    val p = new Path(s"$root/probe")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.isInstanceOf[GraftFs] && f.getScheme == "graftfs")
    val out = f.create(p); out.writeBytes("x"); out.close()
    assert(f.exists(p))
  }

  test("StateStore bootstrap/delta/load/compact lifecycle over graftfs:") {
    val root = newRoot("graft_scheme_state") + "/state"
    val corpus = (1 to 24).map(i => (i.toLong, "en", filler(s"c${i}w")))
      .toDF("doc_id", "lang", "text")
    val batch = (1 to 4).map(i => (100L + i, "en", filler(s"b${i}w")))
      .toDF("doc_id", "lang", "text")

    val v0 = StateStore.commitBootstrap(
      spark, TrainingPipeline.bootstrapState(corpus), root)
    val st = StateStore.load(spark, root)
    assert(st.nonEmpty && st.get.manifest.count() == 24)

    val delta = TrainingPipeline.runIncremental(st.get, batch)
    val v1 = StateStore.commitDelta(spark, delta, root)
    assert(v1 == v0 + 1)
    val live = StateStore.load(spark, root).get.manifest
      .select($"doc_id").as[Long].collect().toSet
    assert(live == ((1 to 24).map(_.toLong) ++ (1 to 4).map(100L + _)).toSet)

    // compact commits the live state as the next version
    val vC = StateStore.compact(spark, root)
    assert(vC == v1 + 1 && StateStore.latestVersion(spark, root).contains(vC))
    assert(StateStore.load(spark, root).get.manifest.count() == 28)
  }

  test("ShardStore init/append/tombstone/read lifecycle over graftfs:") {
    val root = newRoot("graft_scheme_shards") + "/shards"
    val corpus = (1 to 12).map(i => (i.toLong, "en", filler(s"s${i}w")))
      .toDF("doc_id", "lang", "text")
    val batch = Seq((50L, "en", filler("nw"))).toDF("doc_id", "lang", "text")

    val st0 = TrainingPipeline.bootstrapState(corpus)
    ShardStore.init(corpus, st0.manifest, root)
    val delta = TrainingPipeline.runIncremental(st0, batch)
    ShardStore.append(batch, delta.accepted, root)
    ShardStore.addTombstones(delta.tombstones, root)

    val live = ShardStore.read(spark, root).select($"doc_id").as[Long].collect().toSet
    assert(live == ((1 to 12).map(_.toLong).toSet + 50L))
  }

  test("Writer.compact reads sizes and rewrites over graftfs:") {
    val base = newRoot("graft_scheme_compact")
    val in = s"$base/in"; val out = s"$base/out"
    spark.range(1000).selectExpr("id", "id * 2 AS v")
      .repartition(8).write.parquet(in)
    val nFiles = Writer.compact(spark, in, out, targetBytes = 1L << 30)
    assert(nFiles == 1)
    assert(spark.read.parquet(out).count() == 1000)
  }
}
