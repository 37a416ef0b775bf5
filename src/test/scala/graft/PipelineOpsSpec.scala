package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, Cdc, Sampling, TextOps2}

/** CDC, analytics, sampling, and text-batch-2 operators (the DuckDB
  * oracle pins full results; these pin the semantic invariants). */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("upsert: updates win on conflicting keys, base-only keys survive") {
    val base = Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("k", "v", "payload")
    val upd  = Seq((2L, 20L, "B"), (3L, 5L, "C")).toDF("k", "v", "payload")
    val out = Cdc.upsert(base, upd, Seq("k"), "v", Seq("payload"))
      .select($"k", $"payload").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (2L, "B"), (3L, "C")))
  }

  test("upsert: on version tie the tiebreak column decides deterministically") {
    val base = Seq((1L, 10L, "a")).toDF("k", "v", "payload")
    val upd  = Seq((1L, 10L, "z")).toDF("k", "v", "payload")
    val out = Cdc.upsert(base, upd, Seq("k"), "v", Seq("payload"))
      .select($"payload").as[String].collect().toSeq
    assert(out == Seq("z")) // desc tiebreak: "z" > "a"
  }

  test("scd2 intervals chain: valid_to equals the next valid_from, last is open") {
    val log = Seq((1L, 100L, 1L, "new"), (1L, 200L, 2L, "paid"), (1L, 300L, 3L, "shipped"))
      .toDF("k", "t", "seq", "status")
    val out = Cdc.scd2(log, Seq("k"), "t", "seq")
      .orderBy($"valid_from")
      .select($"status", $"valid_from", $"valid_to")
      .as[(String, Long, Option[Long])].collect().toSeq
    assert(out == Seq(("new", 100L, Some(200L)), ("paid", 200L, Some(300L)),
      ("shipped", 300L, None)))
  }

  test("funnel counts are monotone non-increasing across stages") {
    val (v, c, p) = Analytics.funnelQ(spark, TestSpark.sf)
      .as[(Long, Long, Long)].head()
    assert(v >= c && c >= p && v > 0)
  }

  test("retention: offset-0 cell equals the cohort size") {
    val ret = Analytics.retentionQ(spark, TestSpark.sf)
    // every user is active on their own first day
    val cohorts = ret.filter($"day_offset" === 0)
      .agg(sum($"n_users")).as[Long].head()
    val users = graft.sources.Tables.events(spark, TestSpark.sf)
      .select($"user_id").distinct().count()
    assert(cohorts == users)
    assert(ret.filter($"day_offset" < 0).count() == 0)
  }

  test("hash sampling is deterministic and roughly at the target rate") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val once = Sampling.hashSample(docs, $"doc_id", "3").select($"doc_id")
      .as[Long].collect().toSet
    val again = Sampling.hashSample(docs, $"doc_id", "3").select($"doc_id")
      .as[Long].collect().toSet
    assert(once == again)
    val rate = once.size.toDouble / docs.count()
    assert(rate > 0.10 && rate < 0.28, s"rate=$rate") // target 3/16 = 0.1875
  }

  test("redact scrubs emails and phone numbers, leaves clean text alone") {
    val df = Seq(
      "contact bob.smith+x@example.co.uk today",
      "call 555-123-4567 now",
      "nothing sensitive here").toDF("text")
    val out = df.select(TextOps2.redact($"text")).as[String].collect().toSeq
    assert(out == Seq("contact <EMAIL> today", "call <PHONE> now",
      "nothing sensitive here"))
  }

  test("luhn redaction: valid cards go, invalid twins and short runs stay") {
    val df = Seq(
      (1L, "pay 4111111111111111 now"),          // valid Visa test number
      (2L, "order 4111111111111112 shipped"),     // checksum off by one
      (3L, "amex 371449635398431 and visa 4012888888881881 both"),
      (4L, "ref 79927398713 is Luhn-valid but 11 digits"),
      (5L, "plain text")).toDF("doc_id", "text")
    val out = TextOps2.luhnRedact(df, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out(0) == ((1L, 1L, 1L, "pay [CARD] now")))
    assert(out(1) == ((2L, 1L, 0L, "order 4111111111111112 shipped")))
    assert(out(2) == ((3L, 2L, 2L, "amex [CARD] and visa [CARD] both")))
    assert(out(3)._2 == 0L && !out(3)._4.contains("[CARD]"))
    assert(out(4) == ((5L, 0L, 0L, "plain text")))
  }

  test("connected components resolves chains and keeps islands apart (both paths)") {
    // 1-2-3-4-5 is a 4-hop chain (needs >1 propagation round); 10-11 is
    // a separate island; 20 pairs with itself never appears (no pairs).
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (5L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    // smallGraphMax default → driver union-find; 0 → distributed stars
    for (cap <- Seq(100000L, 0L)) {
      val cc = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b",
          smallGraphMax = cap)
      if (cap > 0L) TestSpark.onDriver(cc)
      val comp = cc.as[(Long, Long)].collect().toMap
      assert((1L to 5L).forall(comp(_) == 1L), s"cap=$cap")
      assert(comp(10L) == 10L && comp(11L) == 10L, s"cap=$cap")
      assert(comp.size == 7, s"cap=$cap")
    }
  }

  test("connected components: driver fast path == distributed iteration on a dense mix") {
    // deterministic pseudo-random graph: 400 edges over ~200 nodes —
    // long chains, merged stars, and singleton-free islands
    val edges = (0 until 400).map { i =>
      val a = (i * 2654435761L) % 197
      val b = (i * 40503L + 7) % 193
      (a, if (a == b) b + 199 else b)
    }.toDF("id_a", "id_b")
    val fast = TestSpark.onDriver(
        graft.operators.Dedup.connectedComponents(edges, "id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    val dist = graft.operators.Dedup.connectedComponents(edges, "id_a", "id_b",
        smallGraphMax = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fast == dist,
      s"paths diverge on ${fast.toSet.diff(dist.toSet)} / ${dist.toSet.diff(fast.toSet)}")
  }

  test("fuzzy match finds exactly the quadratic reference pairs") {
    val names = Seq("alpha", "alphq", "alpha1", "beta", "betaxx", "gamma")
      .toDF("p_name")
    val got = graft.operators.Fuzzy.matchPairs(names, "p_name", maxDist = 2)
      .select($"name_a", $"name_b", $"dist")
      .as[(String, String, Long)].collect().toSet
    // driver-side quadratic reference
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val all = names.as[String].collect()
    val expected = (for {
      x <- all; y <- all if x < y
      dd = lev(x, y) if dd <= 2
    } yield (x, y, dd.toLong)).toSet
    assert(got == expected)
    assert(expected.contains(("alpha", "alphq", 1L)))
  }

  test("forward fill: unobserved days carry the last observed value") {
    val out = graft.operators.Profiling.forwardFillQ(spark, TestSpark.sf)
    // every unobserved day with a prior observation must equal the
    // previous day's filled value
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"day")
    val bad = out
      .withColumn("prev", lag($"filled_value", 1).over(w))
      .filter(!$"observed" && $"filled_value".isNotNull && !($"filled_value" <=> $"prev"))
    assert(bad.count() == 0)
    // grid is complete: users x days
    val users = out.select($"user_id").distinct().count()
    val days = out.select($"day").distinct().count()
    assert(out.count() == users * days)
  }

  test("cusum drift: window form equals the sequential recurrence; step change alarms") {
    import graft.operators.Profiling.cusumDrift
    // a level shift: 10/day for 10 days, then 30/day — must alarm soon
    // after the shift; a stable series must not
    val shifted = (1 to 20).map(i =>
      ("s", f"2024-02-$i%02d", if (i <= 10) 10L else 30L))
    val stable = (1 to 20).map(i => ("c", f"2024-02-$i%02d", 20L))
    val df = (shifted ++ stable).toDF("g", "day", "x")
    val out = cusumDrift(df, $"g", $"day", $"x")
      .as[(String, Long, Long, Long, Option[String])].collect()
      .map(r => r._1 -> r).toMap
    assert(out("c")._5.isEmpty && out("c")._3 == 0L)
    assert(out("s")._5.nonEmpty, "level shift must raise the alarm")
    // window form == the direct sequential fold on the shifted series
    val xs = shifted.map(_._3)
    val t = xs.sum / xs.length
    var su = 0L; var mu = 0L; var sd = 0L; var md = 0L
    var alarm: Option[String] = None
    shifted.foreach { case (_, day, x) =>
      su = math.max(0L, su + x - t); mu = math.max(mu, su)
      sd = math.max(0L, sd + t - x); md = math.max(md, sd)
      if (alarm.isEmpty && su > t) alarm = Some(day)
    }
    assert(out("s") == (("s", t, mu, md, alarm)))
  }

  test("dataset fingerprint: order/partition-invariant, change-sensitive, NULL-safe") {
    import graft.operators.Profiling.datasetFingerprint
    val base = graft.sources.Tables.documents(spark, TestSpark.sf)
    val cols = Seq($"doc_id", $"lang", $"text")
    def fp(df: org.apache.spark.sql.DataFrame) =
      datasetFingerprint(df, cols).as[(Long, Long)].head()
    val a = fp(base)
    // any row order / partitioning gives the same checksum
    assert(a == fp(base.repartition(13).sortWithinPartitions($"text")))
    // a single-row change flips it, same row count
    val mutated = base.withColumn("text",
      when($"doc_id" === 7L, concat($"text", lit("!"))).otherwise($"text"))
    assert(fp(mutated)._1 == a._1 && fp(mutated)._2 != a._2)
    // NULL and empty string are distinct representations
    val withNull = Seq((1L, Option.empty[String]), (2L, Some("x"))).toDF("doc_id", "text")
    val withEmpty = Seq((1L, Some("")), (2L, Some("x"))).toDF("doc_id", "text")
    assert(datasetFingerprint(withNull, Seq($"doc_id", $"text")).as[(Long, Long)].head()._2 !=
      datasetFingerprint(withEmpty, Seq($"doc_id", $"text")).as[(Long, Long)].head()._2)
    // field boundaries matter: ("ab","c") != ("a","bc")
    val ab = Seq(("ab", "c")).toDF("x", "y")
    val a_bc = Seq(("a", "bc")).toDF("x", "y")
    assert(datasetFingerprint(ab, Seq($"x", $"y")).as[(Long, Long)].head()._2 !=
      datasetFingerprint(a_bc, Seq($"x", $"y")).as[(Long, Long)].head()._2)
    // the encoding is self-delimiting: a VALUE equal to the NULL marker
    // or containing what looks like a length prefix cannot collide
    val litN = Seq((1L, Some("n"))).toDF("doc_id", "text")
    val realNull = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
    assert(datasetFingerprint(litN, Seq($"doc_id", $"text")).as[(Long, Long)].head()._2 !=
      datasetFingerprint(realNull, Seq($"doc_id", $"text")).as[(Long, Long)].head()._2)
    // grouped checksums equal per-group singles
    val grouped = datasetFingerprint(base, cols, Seq($"source"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val singles = grouped.map(_._1).map { src =>
      val (n, c) = fp(base.filter($"source" === src))
      (src, n, c)
    }
    assert(grouped == singles)
  }

  test("histogram bins partition the rows exactly") {
    val h = graft.operators.Profiling.histogramQ(spark, TestSpark.sf)
    val total = h.agg(sum($"n")).as[Long].head()
    val rows = graft.sources.Tables.events(spark, TestSpark.sf).count()
    assert(total == rows)
  }

  test("tfidf ranks a rare term above ubiquitous terms") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the log"),
      (3L, "the zebra galloped across the plain")).toDF("doc_id", "text")
    import graft.sources.Tables
    // run the same shape as tfidfQ but over an inline corpus
    val tokens = docs.select($"doc_id",
      explode(regexp_extract_all(lower($"text"), lit("[a-z0-9]+"), lit(0))).as("token"))
    val tf = tokens.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    def score(token: String) = tf.join(dfreq, "token").filter($"token" === token)
      .select(($"tf".cast("double") * 4 / ($"df" + 1))).as[Double].head()
    // "zebra": tf=1, df=1 → 2.0; "on": tf=1, df=2 → 4/3 — rarity wins
    assert(score("zebra") > score("on"))
  }

  test("bm25: matching docs only, descending scores, rank-dense per query") {
    val out = graft.operators.TextOps2.bm25Q(spark, TestSpark.sf)
      .select($"qid", $"doc_id", $"score_i", $"rn")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length), s"ranks not dense for $qid")
      // scores non-increasing with rank; ties broken by ascending doc id
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2), s"$qid: $a !>= $b")
      case _ => }
      assert(rows.forall(_._3 > 0), "BM25 scores must be positive for matches")
    }
    // every returned doc really contains at least one query term
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", lower($"text").as("t"))
    val terms = graft.operators.TextOps2.Bm25Queries.toMap
    val byDoc = docs.as[(Long, String)].collect().toMap
    out.foreach { case (qid, did, _, _) =>
      val qs = terms(qid).split(" ")
      assert(qs.exists(w => byDoc(did).split("[^a-z0-9]+").contains(w)),
        s"doc $did matches no term of query $qid")
    }
  }

  test("bm25 scored from a parquet-round-tripped postings index is identical") {
    import graft.operators.TextOps2
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val (postings, stats) = TextOps2.buildBm25Postings(docs, $"doc_id", $"text")
    val dir = java.nio.file.Files.createTempDirectory("bm25ix").toString
    postings.write.mode("overwrite").parquet(s"$dir/postings")
    stats.write.mode("overwrite").parquet(s"$dir/stats")
    val fed = TextOps2.bm25FromPostings(spark,
        spark.read.parquet(s"$dir/postings"), spark.read.parquet(s"$dir/stats"),
        TextOps2.Bm25Queries, k = 10)
      .collect().toSeq
    val direct = TextOps2.bm25Q(spark, TestSpark.sf).collect().toSeq
    assert(fed.nonEmpty && fed == direct)
  }

  test("attribution: per-conversion credit sums to exactly 1e6; last touch takes the remainder") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val events = Seq(
      (1L, ts(0), 7L, "click", 0.0),
      (2L, ts(5), 7L, "view", 0.0),
      (3L, ts(9), 7L, "click", 0.0),
      (4L, ts(10), 7L, "purchase", 0.0), // 3 touches: 333333+333333+333334
      (5L, ts(30), 8L, "view", 0.0),
      (6L, ts(31), 8L, "purchase", 0.0), // 1 touch: full 1e6
      (7L, ts(40), 9L, "purchase", 0.0)) // 0 touches: no rows
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Analytics.linearAttribution(events, "purchase",
        Seq("click", "view"), lookbackUs = 48L * 3600 * 1000000)
      .orderBy($"conv_id", $"touch_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (4L, 1L, 3L, 333333L), (4L, 2L, 3L, 333333L), (4L, 3L, 3L, 333334L),
      (6L, 5L, 1L, 1000000L)))
    assert(got.groupBy(_._1).values.forall(_.map(_._4).sum == 1000000L))
  }

  test("attribution window boundaries: at conv_ts included, at the lookback edge excluded") {
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-02 00:00:00")
    val atEdge = Timestamp.valueOf("2024-01-01 00:00:00")   // exactly 24h before
    val inside = Timestamp.valueOf("2024-01-01 00:00:01")
    val events = Seq(
      (1L, atEdge, 7L, "click", 0.0),
      (2L, inside, 7L, "click", 0.0),
      (3L, t0, 7L, "click", 0.0),          // same instant as the conversion
      (4L, t0, 7L, "purchase", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Analytics.linearAttribution(events, "purchase",
        Seq("click"), lookbackUs = 24L * 3600 * 1000000)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._2)
    assert(got.map(_._2) == Seq(2L, 3L)) // edge touch excluded (strict >)
  }

  test("domain report: cross-domain mirrors count as dups; lang mode tie-breaks lexicographically") {
    import graft.operators.Curation
    val docs = Seq(
      (1L, "https://a.example.com/x", "same words here", "en"),
      (2L, "https://b.example.org/y", "Same  words HERE", "de"), // normalized dup of 1
      (3L, "https://a.example.com/z", "unique text one", "de"),
      (4L, "https://a.example.com/w", "unique text two", "de"),
      (5L, "https://weird.invalidtld/q", "unique text three", "fr"))
      .toDF("doc_id", "url", "text", "lang")
    val got = Curation.domainReport(docs, $"url", $"text", $"lang")
      .orderBy($"domain")
      .as[(String, Long, Long, Long, Long, Long, Long, String)].collect().toSeq
    val byDom = got.map(r => r._1 -> r).toMap
    assert(byDom.keySet == Set("example.com", "example.org", "unknown"))
    val a = byDom("example.com")
    assert(a._2 == 3L && a._5 == 1L && a._6 == 333333L) // one mirror doc of three
    assert(a._8 == "de") // de count 2 beats en 1
    assert(byDom("example.org")._5 == 1L) // the mirror's other side flags too
    assert(byDom("unknown")._2 == 1L && byDom("unknown")._8 == "fr")
  }

  test("ttr gate: exact ppm ratio, flag threshold, NULL on empty, case-folds") {
    val df = Seq(
      (1L, "a b c d"),             // 4 types / 4 tokens = 1000000
      (2L, "spam spam spam spam"), // 1/4 = 250000
      (3L, "The the THE cat"),     // case-folds: 2/4 = 500000
      (4L, ""),                    // empty -> NULLs
      (5L, "  x   y  x "),         // ragged whitespace: 2/3
      (6L, null)                   // NULL text == empty, NOT legacy size(NULL) = -1
    ).toDF("doc_id", "text")
    val got = TextOps2.ttrGate(df, $"doc_id", $"text", minPpm = 450000L)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Option[Long], Option[Boolean])].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 4L, Some(1000000L), Some(false)),
      (2L, 4L, 1L, Some(250000L), Some(true)),
      (3L, 4L, 2L, Some(500000L), Some(false)),
      (4L, 0L, 0L, None, None),
      (5L, 3L, 2L, Some(666666L), Some(false)),
      (6L, 0L, 0L, None, None)))
  }
}
