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
  * either. */
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

  test("the lazy bootstrap CI leaves no entry behind") {
    assertNoCacheLeft("poissonBootstrapCi") {
      graft.operators.Regression.poissonBootstrapCi(edges, $"src", $"dst",
        $"w".cast("double"), b = 4, loRank = 1, hiRank = 4).count()
    }
  }
}
