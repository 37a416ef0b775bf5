package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persist-audit pin (round-15; SURVEY §21): operators that are EAGER
  * internally (they run jobs before returning) must leave ZERO
  * CacheManager entries behind — their persisted working frames are
  * dead the moment the eagerly-checkpointed result exists, and a
  * leaked entry pins executor memory for the session's lifetime (the
  * hyperBall leak the round-14 verdict flagged). Operators whose
  * result is read lazily pin a working frame their two consumers
  * share with a local checkpoint instead, which leaves no entry
  * either. The corpus-ingest loop owns its cache explicitly: a batch
  * releases everything it cached, and a bootstrap keeps only the
  * state it returns. */
class CacheHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L),
    (3L, 4L, 2L), (4L, 5L, 1L), (5L, 3L, 1L)).toDF("src", "dst", "w")

  private def pairs = edges.select($"src".as("id_a"), $"dst".as("id_b"))

  private def assertNoCacheLeft(tag: String)(body: => Unit): Unit = {
    spark.sharedState.cacheManager.clearCache()
    body
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$tag left CacheManager entries behind")
  }

  test("eager graph operators unpersist every working frame") {
    assertNoCacheLeft("pageRank") {
      graft.operators.GraphOps.pageRank(edges, "src", "dst", "w", iters = 2).count()
    }
    assertNoCacheLeft("personalizedPageRank") {
      graft.operators.GraphOps.personalizedPageRank(edges, "src", "dst", "w",
        Seq(1L).toDF("node"), "node", iters = 2).count()
    }
    assertNoCacheLeft("seedDistance") {
      graft.operators.GraphOps.seedDistance(pairs, "id_a", "id_b",
        Seq(1L).toDF("node"), "node", maxHops = 3).count()
    }
    assertNoCacheLeft("kCorePeel") {
      graft.operators.GraphOps.kCorePeel(pairs, "id_a", "id_b", k = 2, rounds = 3).count()
    }
    assertNoCacheLeft("hyperBall") {
      graft.operators.GraphOps.hyperBall(edges, "src", "dst", p = 2, maxRadius = 2).count()
    }
    assertNoCacheLeft("deterministicWalks") {
      graft.operators.GraphOps.deterministicWalks(edges, "src", "dst",
        walksPerNode = 1, length = 2).count()
    }
    assertNoCacheLeft("hits") {
      graft.operators.WebIr.hits(edges.select($"src", $"dst"), "src", "dst",
        iters = 2).count()
    }
  }

  test("label propagation's distributed path leaves no entry behind") {
    assertNoCacheLeft("labelPropagation (distributed)") {
      graft.operators.GraphOps.labelPropagation(pairs, "id_a", "id_b", iters = 2,
        smallGraphMax = 0L).count()
    }
  }

  private def docs(ids: Long*) =
    ids.map(i => (i, "en", (1 to 45).map(w => s"d${i}w$w").mkString(" ")))
      .toDF("doc_id", "lang", "text")

  test("an ingest batch releases every frame it cached, ingested or replayed") {
    val base = java.nio.file.Files.createTempDirectory("graft_hygiene").toString
    def ingest(batch: Seq[Long], id: Long): Unit = graft.streaming.CorpusIngest
      .ingestBatch(docs(batch: _*), id, s"$base/state", s"$base/shards")
    assertNoCacheLeft("ingestBatch on a fresh root")(ingest(Seq(1L, 2L), 0L))
    assertNoCacheLeft("ingestBatch on a committed state")(ingest(Seq(10L, 11L), 1L))
    assertNoCacheLeft("a replayed ingestBatch")(ingest(Seq(10L, 11L), 1L))
    assert(graft.sources.ShardStore.read(spark, s"$base/shards").count() == 4)
  }

  test("bootstrapState leaves only the five state frames it returns") {
    assertNoCacheLeft("bootstrapState") {
      val st = graft.operators.TrainingPipeline.bootstrapState(docs(1L, 2L, 3L))
      val five = Seq(st.hashes, st.sigs, st.labels, st.shingles, st.manifest)
      assert(five.forall(_.storageLevel.useMemory), "a state frame is not cached")
      five.foreach(_.unpersist())
    }
  }

  test("the lazy bootstrap CI leaves no entry behind") {
    assertNoCacheLeft("poissonBootstrapCi") {
      graft.operators.Regression.poissonBootstrapCi(edges, $"src", $"dst",
        $"w".cast("double"), b = 4, loRank = 1, hiRank = 4).count()
    }
  }
}
