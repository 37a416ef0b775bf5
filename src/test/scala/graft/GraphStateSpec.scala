package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphState

/** Rank refreshes commit through the version log: a refresh that dies
  * mid-write leaves nothing [[GraphState.ranks]] resolves, and two
  * refreshes racing for one version cannot both land it. Tiny graphs
  * only — GraphSpec holds the PageRank parity tests. */
class GraphStateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A root holding one edge batch of a 4-node cycle with a chord. */
  private def graphRoot(scheme: String, name: String): String = {
    val root = StoreFixtures.newRoot(scheme, name)
    GraphState.commitEdgeDelta(spark,
      Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 2L), (4L, 1L, 1L), (1L, 3L, 1L))
        .toDF("src", "dst", "w"), "src", "dst", "w", root, "b0")
    root
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select($"node", $"rank").as[(Long, Long)].collect().sortBy(_._1).toSeq

  for (scheme <- Seq("file", "graftoss"))
    test(s"a dead refresh's ranks dir stays invisible and the next refresh commits over $scheme") {
      val root = graphRoot(scheme, "graft_gs_dead")
      val r0 = rows(GraphState.refreshRanks(spark, root, iters = 1))
      // a refresh that died mid-write, as a bare ranks/v=1 dir
      StoreFixtures.fsOf(root).mkdirs(new Path(s"$root/ranks/v=1/_temporary/0"))
      if (scheme == "graftoss") { // and a real one killed mid-rename
        ObjectStoreFs.armCrash(root, afterFiles = 0)
        try intercept[Exception] { GraphState.refreshRanks(spark, root, iters = 1) }
        finally ObjectStoreFs.disarm(root)
      }
      assert(GraphState.latestRankVersion(spark, root).contains(0L))
      assert(rows(GraphState.ranks(spark, root).get) == r0)
      assert(StoreFixtures.children(s"$root/ranks/v=1") == Seq("_temporary"))

      val r1 = rows(GraphState.refreshRanks(spark, root, iters = 1))
      assert(GraphState.latestRankVersion(spark, root).contains(1L))
      assert(rows(GraphState.ranks(spark, root).get) == r1)
    }

  for (scheme <- Seq("graftfs", "graftoss"))
    test(s"two refreshes racing for one version over $scheme: one wins, the loser throws") {
      val root = graphRoot(scheme, "graft_gs_race")
      GraphState.refreshRanks(spark, root, iters = 1)
      // the winner refreshes between the loser's solve and its claim
      var winner = Seq.empty[(Long, Long)]
      StoreFixtures.raceFor(new Path(s"$root/commits/v1")) {
        winner = rows(GraphState.refreshRanks(spark, root, iters = 1))
      }
      intercept[java.util.ConcurrentModificationException] {
        GraphState.refreshRanks(spark, root, iters = 2)
      }
      assert(StoreFixtures.children(s"$root/ranks/v=1").size == 1, "the loser discards its dir")
      assert(GraphState.latestRankVersion(spark, root).contains(1L))
      assert(winner.nonEmpty && rows(GraphState.ranks(spark, root).get) == winner)
      // the loser's retry warm-starts from the winner's ranks
      GraphState.refreshRanks(spark, root, iters = 2)
      assert(GraphState.latestRankVersion(spark, root).contains(2L))
    }
}
