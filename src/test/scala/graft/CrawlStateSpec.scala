package graft

import org.apache.spark.sql.functions.{lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CrawlState

/** Crawl-frontier state (SURVEY.md §2 row 262): max-day merge
  * semantics, replay idempotence, version advance, the three
  * frontier verdicts, horizon boundary exactness, and the ledger's
  * commits through the version log (no fence survives a failed
  * write, a claimed version is read at once and reads never write,
  * racing commits). */
class CrawlStateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot() =
    java.nio.file.Files.createTempDirectory("graft_cs").toString

  private def fetched(rows: (String, String, String)*) =
    rows.toSeq.toDF("url_canon", "host", "day")

  test("max-day merge: refetches advance, replays are idempotent") {
    val root = newRoot()
    assert(CrawlState.commitFetched(spark, fetched(
      ("u1", "h", "2025-01-10"), ("u2", "h", "2025-01-10")), root) == 0L)
    assert(CrawlState.commitFetched(spark, fetched(
      ("u1", "h", "2025-01-20")), root) == 1L)
    // a replay of an OLDER record must not regress the ledger
    CrawlState.commitFetched(spark, fetched(("u1", "h", "2025-01-10")), root)
    val led = CrawlState.ledger(spark, root)
      .as[(String, String, String)].collect().map { case (u, _, d) => u -> d }.toMap
    assert(led == Map("u1" -> "2025-01-20", "u2" -> "2025-01-10"))
  }

  test("frontier verdicts: new / recrawl / fresh with an exact horizon boundary") {
    val root = newRoot()
    CrawlState.commitFetched(spark, fetched(
      ("stale", "h", "2025-01-10"),   // +10 = 01-20 <= 01-25: recrawl
      ("edge", "h", "2025-01-15"),    // +10 = 01-25 <= 01-25: recrawl (boundary IN)
      ("fresh", "h", "2025-01-16")),  // +10 = 01-26 >  01-25: fresh
      root)
    val disc = Seq(("h", "stale"), ("h", "edge"), ("h", "fresh"), ("h", "never"))
      .toDF("host", "url_canon")
    val got = CrawlState.frontier(spark, disc, root, "2025-01-25", 10)
      .as[(String, String, String, String, Boolean)].collect()
      .map(r => r._2 -> ((r._4, r._5))).toMap
    assert(got == Map(
      "stale" -> (("recrawl", true)), "edge" -> (("recrawl", true)),
      "fresh" -> (("fresh", false)), "never" -> (("new", true))))
  }

  test("a sitemap lastmod newer than the fetch makes a URL changed, ahead of staleness") {
    val root = newRoot()
    CrawlState.commitFetched(spark, fetched(
      ("changed_fresh", "h", "2025-01-20"),  // lastmod after: changed, NOT stale
      ("changed_stale", "h", "2025-01-05"),  // changed AND stale: changed wins
      ("unchanged", "h", "2025-01-20"),      // lastmod BEFORE the fetch: fresh
      ("nolastmod", "h", "2025-01-20")), root)
    val disc = Seq(
      ("h", "changed_fresh", "2025-01-22"),
      ("h", "changed_stale", "2025-01-22"),
      ("h", "unchanged", "2025-01-15"),
      ("h", "nolastmod", ""))
      .toDF("host", "url_canon", "lastmod")
    val got = CrawlState.frontier(spark, disc, root, "2025-01-25", 10)
      .as[(String, String, String, String, String, Boolean)].collect()
      .map(r => r._2 -> ((r._5, r._6))).toMap
    assert(got == Map(
      "changed_fresh" -> (("changed", true)),
      "changed_stale" -> (("changed", true)),
      "unchanged" -> (("fresh", false)),
      "nolastmod" -> (("fresh", false))))
  }

  test("an untouched root makes every discovery new") {
    val got = CrawlState.frontier(spark,
        Seq(("h", "u1")).toDF("host", "url_canon"), newRoot(), "2025-01-25", 10)
      .as[(String, String, String, String, Boolean)].collect().toSeq
    assert(got == Seq(("h", "u1", "", "new", true)))
  }

  // ---- the version log, over a local FS and over rename-as-copy
  // (graftoss:, see CloudRenameSpec); the race over graftfs: and
  // graftoss:, whose lookups the race hook sees ----

  private def urls(root: String): Map[String, String] =
    CrawlState.ledger(spark, root).as[(String, String, String)].collect()
      .map { case (u, _, d) => u -> d }.toMap

  for (scheme <- Seq("file", "graftoss")) {
    test(s"a merge write that throws fences nothing over $scheme") {
      val root = StoreFixtures.newRoot(scheme, "graft_cs_fail")
      CrawlState.commitFetched(spark, fetched(("u1", "h", "2025-01-10")), root)
      val bad = fetched(("u2", "h", "2025-01-11"))
        .withColumn("day", raise_error(lit("fetch record rejected")))
      intercept[Exception] { CrawlState.commitFetched(spark, bad, root) }
      if (scheme == "graftoss") { // and a commit killed mid-rename
        ObjectStoreFs.armCrash(root, afterFiles = 0)
        try intercept[Exception] {
          CrawlState.commitFetched(spark, fetched(("u2", "h", "2025-01-11")), root)
        } finally ObjectStoreFs.disarm(root)
      }
      assert(StoreFixtures.children(s"$root/fetched/v=1").isEmpty, "a failed merge leaves no dir")
      // a dir a dead writer left where v=1 lives is never resolved
      StoreFixtures.fsOf(root).mkdirs(new org.apache.hadoop.fs.Path(s"$root/fetched/v=1/_temporary"))
      assert(urls(root) == Map("u1" -> "2025-01-10"))

      assert(CrawlState.commitFetched(spark,
        fetched(("u2", "h", "2025-01-11")), root) == 1L)
      assert(urls(root) == Map("u1" -> "2025-01-10", "u2" -> "2025-01-11"))
    }

    test(s"a claimed but unflipped version is read at once, and reads never write, over $scheme") {
      val root = StoreFixtures.newRoot(scheme, "graft_cs_claimed")
      CrawlState.commitFetched(spark, fetched(("u1", "h", "2025-01-10")), root)
      // a committer wrote v1's merged ledger, claimed it, and died
      // before flipping LATEST
      val token = "deadbeef-dead-dead-dead-deaddeadbeef"
      Seq(("u1", "h", "2025-01-10"), ("u2", "h", "2025-01-12"))
        .toDF("url_canon", "host", "last_fetch_day")
        .write.parquet(s"$root/fetched/v=1/$token")
      StoreFixtures.claimed(root, 1L, token)
      val before = StoreFixtures.files(root)
      assert(urls(root) == Map("u1" -> "2025-01-10", "u2" -> "2025-01-12"))
      assert(StoreFixtures.files(root) == before, "a read wrote to the store")
      assert(CrawlState.commitFetched(spark,
        fetched(("u3", "h", "2025-01-13")), root) == 2L)
      assert(urls(root).keySet == Set("u1", "u2", "u3"))
    }
  }

  for (scheme <- Seq("graftfs", "graftoss"))
    test(s"two commits racing for one version over $scheme: one wins, the loser throws") {
      val root = StoreFixtures.newRoot(scheme, "graft_cs_race")
      CrawlState.commitFetched(spark, fetched(("u1", "h", "2025-01-10")), root)
      // the winner commits between the loser's merge and its claim
      StoreFixtures.raceFor(new org.apache.hadoop.fs.Path(s"$root/commits/v1")) {
        assert(CrawlState.commitFetched(spark,
          fetched(("w", "h", "2025-01-11")), root) == 1L)
      }
      intercept[java.util.ConcurrentModificationException] {
        CrawlState.commitFetched(spark, fetched(("l", "h", "2025-01-12")), root)
      }
      assert(StoreFixtures.children(s"$root/fetched/v=1").size == 1, "the loser discards its dir")
      assert(urls(root) == Map("u1" -> "2025-01-10", "w" -> "2025-01-11"))
      // the loser's retry merges into the winner's ledger: nothing lost
      assert(CrawlState.commitFetched(spark,
        fetched(("l", "h", "2025-01-12")), root) == 2L)
      assert(urls(root) ==
        Map("u1" -> "2025-01-10", "w" -> "2025-01-11", "l" -> "2025-01-12"))
    }

  test("a ledger whose commit markers are lost fails loudly") {
    val root = newRoot()
    CrawlState.commitFetched(spark, fetched(("u1", "h", "2025-01-10")), root)
    val f = StoreFixtures.fsOf(root)
    assert(f.delete(new org.apache.hadoop.fs.Path(s"$root/commits"), true))
    for (op <- Seq[() => Any](() => CrawlState.ledger(spark, root),
        () => CrawlState.commitFetched(spark, fetched(("u2", "h", "2025-01-11")), root))) {
      val e = intercept[IllegalArgumentException] { op() }
      assert(e.getMessage.contains("refusing to roll the state back"), e.getMessage)
    }
  }

  test("frontier passes discovery columns through for the scheduler") {
    val root = newRoot()
    CrawlState.commitFetched(spark, fetched(("u1", "h", "2025-01-10")), root)
    val disc = Seq(("h", "u1", 800000L, 3L)).toDF(
      "host", "url_canon", "priority_ppm", "pos")
    val got = CrawlState.frontier(spark, disc, root, "2025-01-25", 10)
    assert(got.columns.toSeq ==
      Seq("host", "url_canon", "priority_ppm", "pos",
        "last_fetch_day", "status", "due"))
    assert(got.as[(String, String, Long, Long, String, String, Boolean)]
      .collect().head == (("h", "u1", 800000L, 3L, "2025-01-10", "recrawl", true)))
  }

  test("partitioning invariance of the merge") {
    val rows = (1 to 300).map(i =>
      (s"u${i % 40}", "h", f"2025-01-${i % 28 + 1}%02d"))
    val r1 = newRoot(); val r2 = newRoot()
    CrawlState.commitFetched(spark, rows.toDF("url_canon", "host", "day").repartition(1), r1)
    CrawlState.commitFetched(spark, rows.toDF("url_canon", "host", "day").repartition(13), r2)
    val a = CrawlState.ledger(spark, r1).as[(String, String, String)].collect().toSet
    val b = CrawlState.ledger(spark, r2).as[(String, String, String)].collect().toSet
    assert(a == b)
  }
}
