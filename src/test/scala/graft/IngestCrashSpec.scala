package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TrainingPipeline
import graft.sources.ShardStore
import graft.streaming.CorpusIngest

/** An ingest batch is one state version ([[CorpusIngest.ingestBatch]]):
  * whatever instant a crash hits — while staging, after the claim with
  * its moves half made, after the moves with LATEST not yet flipped —
  * replaying the same batch id leaves the live shards equal to the full
  * pipeline over every batch, with no document twice. Over `graftoss:`
  * (rename-as-copy) the crashes are injected into the real run at a
  * path lookup ([[StoreFixtures.raceFor]]); over `file:`
  * a committed batch is rewound, rename by rename, to the state each
  * crash leaves. */
class IngestCrashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val core = (1 to 30).map(i => s"core$i").mkString(" ")
  private def suffixed(tag: String) = core + " " + (1 to 15).map(i => s"$tag$i").mkString(" ")
  private def filler(tag: String) = (1 to 45).map(i => s"$tag$i").mkString(" ")
  private def docs(rows: (Long, String)*): DataFrame =
    rows.map { case (id, text) => (id, "en", text) }.toDF("doc_id", "lang", "text")

  private val b0 = docs(1L -> suffixed("alpha"), 2L -> suffixed("beta"), 3L -> filler("pad"))
  // doc 10 bridges 1 and 2, so the batch tombstones a shipped doc
  private val b1 = docs(10L -> core, 11L -> filler("new"))

  private val cols = Seq("doc_id", "split", "lang", "n_tokens").map(col)
  private def rows(df: DataFrame) = df.select(cols: _*).collect().map(_.toString).sorted.toSeq
  private lazy val fullRun = rows(TrainingPipeline.run(b0.union(b1)))

  /** Ingest b0, let `crash` interrupt batch 1 (b1), replay batch 1. */
  private def crashThenReplay(scheme: String)(crash: (String, String) => Unit): Unit = {
    val base = StoreFixtures.newRoot(scheme, "graft_ingest_crash")
    val (state, shards) = (s"$base/state", s"$base/shards")
    CorpusIngest.ingestBatch(b0, 0L, state, shards)
    crash(state, shards)
    CorpusIngest.ingestBatch(b1, 1L, state, shards)
    val live = ShardStore.read(spark, shards)
    val ids = live.select($"doc_id").as[Long].collect().toSeq
    assert(ids.size == ids.distinct.size, s"a doc_id landed twice: ${ids.sorted}")
    assert(rows(live) == fullRun)
  }

  /** An injected crash: an Error, so no IOException handler takes it
    * for a lost claim or a failed rename. */
  private final class Crash(msg: String) extends Error(msg)

  private def crashing(run: => Unit): Unit = { intercept[Crash](run); () }

  private def claimOf(state: String) = new Path(s"$state/commits/v1")

  /** (token, moves) from a delta version's marker body at `p`. */
  private def markerOf(p: Path): (String, Seq[(String, String)]) = {
    val in = StoreFixtures.fsOf(p.toString).open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector finally in.close()
    (lines.head.split(" ")(0), lines.tail.map(_.split("\t")).map { case Array(src, dst) => src -> dst })
  }

  test("graftoss: a crash while staging lands the batch once") {
    crashThenReplay("graftoss") { (state, shards) =>
      StoreFixtures.raceFor(claimOf(state)) { throw new Crash("crash before the claim") }
      crashing(CorpusIngest.ingestBatch(b1, 1L, state, shards))
      assert(!StoreFixtures.fsOf(state).exists(claimOf(state)), "the crash came after the claim")
    }
  }

  test("graftoss: a crash mid-moves is finished by the replay") {
    crashThenReplay("graftoss") { (state, shards) =>
      // at the claim, read the moves its marker will record and crash
      // at the second shard file's (rows, then tombstones): the state
      // tables and one shard file are moved, the rest stay staged
      StoreFixtures.raceFor(claimOf(state)) {
        val Seq(tmp) = StoreFixtures.fsOf(state).listStatus(new Path(s"$state/commits"))
          .map(_.getPath).filter(_.getName.startsWith(".claim.")).toSeq
        val dst = markerOf(tmp)._2.collect {
          case (src, d) if src.startsWith("rows/") || src.startsWith("tombstones/") => d
        }
        StoreFixtures.raceFor(new Path(dst(1))) { throw new Crash("crash mid-moves") }
      }
      crashing(CorpusIngest.ingestBatch(b1, 1L, state, shards))
      assert(StoreFixtures.children(s"$state/staging").nonEmpty, "the crash left no stage")
    }
  }

  test("graftoss: a crash before the flip is skipped by the replay") {
    crashThenReplay("graftoss") { (state, shards) =>
      StoreFixtures.raceFor(claimOf(state)) {
        StoreFixtures.raceFor(new Path(s"$state/LATEST")) { throw new Crash("crash in the flip") }
      }
      crashing(CorpusIngest.ingestBatch(b1, 1L, state, shards))
      assert(StoreFixtures.children(s"$state/staging").isEmpty, "the crash came before the moves")
    }
  }

  /** Rewind committed state version `v` to what a crash leaves: its
    * last `unmoved` moves renamed back into its stage, LATEST at v-1,
    * and, unless `claimed`, no marker. */
  private def rewind(state: String, v: Long, claimed: Boolean)(unmoved: Int => Int): Unit = {
    val f = StoreFixtures.fsOf(state)
    val marker = new Path(s"$state/commits/v$v")
    val (token, moves) = markerOf(marker)
    moves.takeRight(unmoved(moves.size)).foreach { case (src, dst) =>
      val back = new Path(s"$state/staging/$token/$src")
      f.mkdirs(back.getParent)
      assert(f.rename(new Path(dst), back), s"could not rewind $dst")
    }
    if (!claimed) assert(f.delete(marker, false))
    StoreFixtures.write(f, new Path(s"$state/LATEST"), (v - 1).toString)
  }

  private def rewound(claimed: Boolean)(unmoved: Int => Int): Unit =
    crashThenReplay("file") { (state, shards) =>
      CorpusIngest.ingestBatch(b1, 1L, state, shards)
      rewind(state, 1L, claimed)(unmoved)
    }

  test("file: a crash while staging lands the batch once") {
    rewound(claimed = false)(all => all)
  }

  test("file: a crash mid-moves is finished by the replay") {
    // the six state tables and one shard file moved, the rest staged
    rewound(claimed = true)(all => all - 7)
  }

  test("file: a crash before the flip is skipped by the replay") {
    rewound(claimed = true)(_ => 0)
  }
}
