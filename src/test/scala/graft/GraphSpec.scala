package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

/** Weighted integer PageRank (SURVEY.md §2 row 114): mass
  * conservation, symmetry, dangling-mass redistribution, determinism
  * under repartitioning, and the positive-weight contract. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Scale = 1000000000000L

  test("total rank mass is conserved up to floor truncation") {
    val e = GraphOps.nationFlowEdges(spark, TestSpark.sf)
    val total = GraphOps.pageRank(e, "src", "dst", "w", iters = 3)
      .agg(sum($"rank")).head().getLong(0)
    assert(math.abs(total - Scale) < Scale / 1000L, s"total=$total")
  }

  test("a symmetric ring yields equal ranks") {
    val e = Seq((1L, 2L, 5L), (2L, 3L, 5L), (3L, 1L, 5L)).toDF("src", "dst", "w")
    val ranks = GraphOps.pageRank(e, "src", "dst", "w", iters = 4)
      .orderBy($"node").as[(Long, Long)].collect()
    assert(ranks.map(_._2).distinct.length == 1, ranks.mkString(","))
  }

  test("dangling node: mass flows in, redistributes back out uniformly") {
    // 1 -> 2; node 2 has no out-edges
    val e = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val r = GraphOps.pageRank(e, "src", "dst", "w", iters = 3)
      .orderBy($"node").as[(Long, Long)].collect().toMap
    assert(r.keySet == Set(1L, 2L))
    // node 2 receives everything node 1 passes plus its dangling share:
    // it must strictly out-rank node 1, and no mass may vanish
    assert(r(2L) > r(1L), r.toString)
    assert(math.abs(r.values.sum - Scale) < Scale / 1000L, r.toString)
  }

  test("ranks are invariant to edge partitioning") {
    val e = GraphOps.nationFlowEdges(spark, TestSpark.sf)
    val a = GraphOps.pageRank(e, "src", "dst", "w", iters = 2)
      .orderBy($"node").collect().toSeq
    val b = GraphOps.pageRank(e.repartition(13, $"dst"), "src", "dst", "w", iters = 2)
      .orderBy($"node").collect().toSeq
    assert(a == b)
  }

  test("non-positive edge weights are rejected") {
    val e = Seq((1L, 2L, 0L)).toDF("src", "dst", "w")
    val ex = intercept[Exception] {
      GraphOps.pageRank(e, "src", "dst", "w", iters = 1).collect()
    }
    assert(ex.getMessage.contains("positive") ||
      ex.getCause != null && ex.getCause.getMessage.contains("positive"), ex.getMessage)
  }

  test("ppr: mass conserved; proximity to the seed decides rank") {
    // chain 1 -> 2 -> 3 plus a back-edge 3 -> 1; seed = {1}
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("seed")
    val r = GraphOps.personalizedPageRank(e, "src", "dst", "w", seeds, "seed",
        iters = 6).orderBy($"node").as[(Long, Long)].collect().toMap
    assert(math.abs(r.values.sum - Scale) < Scale / 1000L, r.toString)
    // the seed holds the most mass; its direct successor beats the 2-hop node
    assert(r(1L) > r(2L) && r(2L) > r(3L), r.toString)
  }

  test("ppr: dangling mass returns to the seeds, not uniformly") {
    // 1 -> 2, 2 dangling; seed = {1}: node 2 only ever gets damped
    // pass-through mass, node 1 keeps teleport + dangling return
    val e = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val r = GraphOps.personalizedPageRank(e, "src", "dst", "w",
        Seq(1L).toDF("seed"), "seed", iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(r(1L) > r(2L), r.toString)
    assert(math.abs(r.values.sum - Scale) < Scale / 1000L, r.toString)
  }

  test("ppr: seeds outside the graph are dropped; all-outside rejects") {
    val e = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val r = GraphOps.personalizedPageRank(e, "src", "dst", "w",
        Seq(1L, 99L).toDF("seed"), "seed", iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(r.keySet == Set(1L, 2L)) // 99 carries no mass and emits no row
    val ex = intercept[Exception] {
      GraphOps.personalizedPageRank(e, "src", "dst", "w",
        Seq(99L).toDF("seed"), "seed", iters = 1).collect()
    }
    assert(ex.getMessage.contains("seed"), ex.getMessage)
  }

  test("ppr is invariant to edge partitioning") {
    val e = GraphOps.nationFlowEdges(spark, TestSpark.sf)
    val seeds = Seq(0L, 1L, 2L).toDF("seed")
    val a = GraphOps.personalizedPageRank(e, "src", "dst", "w", seeds, "seed", iters = 2)
      .orderBy($"node").collect().toSeq
    val b = GraphOps.personalizedPageRank(e.repartition(13, $"dst"), "src", "dst", "w",
        seeds, "seed", iters = 2)
      .orderBy($"node").collect().toSeq
    assert(a == b)
  }

  test("triangles: K4 has four, each node in three; pendant nodes in none") {
    // K4 on 1..4 plus a pendant edge 4-5 and duplicate/reversed noise
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (2L, 1L), (3L, 1L)).toDF("a", "b")
    val got = GraphOps.triangleCounts(e, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // total triangles = sum/3 = 4
    assert(got.values.sum == 12)
  }

  test("triangles match a brute-force count on a pseudo-random graph") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 220).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }.distinct
    val canon = edges.map { case (a, b) => (a.min(b), a.max(b)) }.distinct.toSet
    val nodes = canon.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val brute = (for {
      i <- nodes; j <- nodes if j > i; k <- nodes if k > j
      if canon((i, j)) && canon((j, k)) && canon((i, k))
    } yield Seq(i, j, k)).flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = GraphOps.triangleCounts(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == brute)
  }

  test("a star graph (maximal skew) has zero triangles and zero wedge blowup") {
    val star = (2L to 400L).map(i => (1L, i)).toDF("a", "b")
    // degree orientation points every edge AT the hub, so the hub's
    // out-degree is 0 and no wedges are generated at all
    assert(GraphOps.triangleCounts(star, "a", "b").count() == 0)
  }

  test("triangle counts are invariant to edge partitioning and direction") {
    val e = GraphOps.nationFlowEdges(spark, TestSpark.sf)
      .select($"src".as("a"), $"dst".as("b"))
    def run(df: org.apache.spark.sql.DataFrame) =
      GraphOps.triangleCounts(df, "a", "b")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val flipped = e.select($"b".as("a"), $"a".as("b"))
    assert(run(e).nonEmpty)
    assert(run(e) == run(flipped.repartition(9)))
  }

  test("warm-start continuation: k1 iterations persisted + k2 resumed == k1+k2 straight") {
    val e = GraphOps.nationFlowEdges(spark, TestSpark.sf)
    val straight = GraphOps.pageRank(e, "src", "dst", "w", iters = 3)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    // round-trip the intermediate ranks through parquet (long-exact)
    val dir = java.nio.file.Files.createTempDirectory("graft_pr_warm").toString
    GraphOps.pageRank(e, "src", "dst", "w", iters = 1)
      .write.mode("overwrite").parquet(dir)
    val resumed = GraphOps.pageRank(e, "src", "dst", "w", iters = 2,
        init = Some(spark.read.parquet(dir)))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(resumed == straight)
  }

  test("graph state: delta-accumulated edges equal the direct derivation; refresh versions advance") {
    import graft.operators.GraphState
    val root = java.nio.file.Files.createTempDirectory("graft_gs").toString
    val raw = GraphOps.rawNationFlowEdges(spark, TestSpark.sf)
    GraphState.commitEdgeDelta(spark, raw.filter($"l_orderkey" % 2 === 0),
      "src", "dst", "w", root, "even")
    GraphState.commitEdgeDelta(spark, raw.filter($"l_orderkey" % 2 === 1),
      "src", "dst", "w", root, "odd")
    val acc = GraphState.edgesFromState(spark, root)
      .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    val direct = raw.groupBy($"src", $"dst").agg(sum($"w").as("w"))
      .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(acc == direct)
    // a retried batch overwrites its own partition — no double count
    GraphState.commitEdgeDelta(spark, raw.filter($"l_orderkey" % 2 === 1),
      "src", "dst", "w", root, "odd")
    val acc2 = GraphState.edgesFromState(spark, root)
      .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(acc2 == direct)
    // refresh twice: versions advance and the second warm-starts
    assert(GraphState.latestRankVersion(spark, root).isEmpty)
    GraphState.refreshRanks(spark, root, iters = 1)
    assert(GraphState.latestRankVersion(spark, root).contains(0L))
    val r2 = GraphState.refreshRanks(spark, root, iters = 2)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(GraphState.latestRankVersion(spark, root).contains(1L))
    // continuation identity through the store: 1 + 2 == 3 straight
    val straight = GraphOps.pageRank(
        GraphState.edgesFromState(spark, root), "src", "dst", "w", iters = 3)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(r2 == straight)
  }

  test("nation-flow edge derivation broadcasts the dims") {
    val p = GraphOps.nationFlowEdges(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // --- label propagation (SURVEY.md §2 row 141) ---

  test("label propagation separates bridged triangles that CC merges") {
    // two triangles joined by one bridge edge 3-4: a single borderline
    // link must NOT glue the dense groups (CC does — that's the point)
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    val lp = GraphOps.labelPropagation(pairs, "a", "b", iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(lp(1L) == lp(2L) && lp(2L) == lp(3L))
    assert(lp(4L) == lp(5L) && lp(5L) == lp(6L))
    assert(lp(1L) != lp(4L), lp.toString)
    val cc = graft.operators.Dedup.connectedComponents(pairs, "a", "b")
      .select($"comp").distinct().count()
    assert(cc == 1L) // the contrast: one component, two communities
  }

  test("label propagation on a clique converges to the min id") {
    val nodes = (1L to 5L)
    val pairs = (for (a <- nodes; b <- nodes if a < b) yield (a, b))
      .toDF("a", "b")
    val lp = GraphOps.labelPropagation(pairs, "a", "b", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(lp.values.toSet == Set(1L), lp.toString)
  }

  test("label propagation is invariant to pair partitioning") {
    val pairs = graft.operators.VectorQueries.embedNearDupQ(spark, TestSpark.sf)
    val a = GraphOps.labelPropagation(pairs, "id_a", "id_b", iters = 4)
      .orderBy($"node").collect().toSeq
    val b = GraphOps.labelPropagation(pairs.repartition(7, $"id_b"), "id_a", "id_b", iters = 4)
      .orderBy($"node").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  private def dists(pairs: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int) =
    GraphOps.seedDistance(pairs.toDF("a", "b"), "a", "b",
        seeds.toDF("node"), "node", maxHops)
      .as[(Long, Option[Long])].collect().toMap

  test("seed distance: path graph measures exact hops, cap truncates to NULL") {
    // 1-2-3-4-5 chain seeded at 1
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val d = dists(chain, Seq(1L), maxHops = 8)
    assert(d == Map(1L -> Some(0L), 2L -> Some(1L), 3L -> Some(2L),
      4L -> Some(3L), 5L -> Some(4L)), d.toString)
    // capped at 2 hops: nodes 4 and 5 unreached -> NULL, rows kept
    val c = dists(chain, Seq(1L), maxHops = 2)
    assert(c == Map(1L -> Some(0L), 2L -> Some(1L), 3L -> Some(2L),
      4L -> None, 5L -> None), c.toString)
  }

  test("seed distance: multi-source takes the nearer seed; shortcut beats long way") {
    // ring 1-2-3-4-5-6-1 plus chord 1-4; seeds {1}
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L), (1L, 4L))
    val d = dists(ring, Seq(1L), maxHops = 8)
    assert(d(4L) == Some(1L) && d(3L) == Some(2L) && d(5L) == Some(2L), d.toString)
    // two seeds on opposite ends of a chain: every node <= 2 hops
    val d2 = dists(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), Seq(1L, 5L), 8)
    assert(d2.values.flatten.max == 2L, d2.toString)
  }

  test("seed distance: disconnected component stays NULL; off-graph seed reports 0") {
    val d = dists(Seq((1L, 2L), (10L, 11L)), Seq(1L, 99L), maxHops = 8)
    assert(d(10L).isEmpty && d(11L).isEmpty, d.toString)
    assert(d(99L) == Some(0L) && d(2L) == Some(1L), d.toString)
  }

  test("seed distance is invariant to pair partitioning") {
    val pairs = graft.operators.VectorQueries.embedNearDupQ(spark, TestSpark.sf)
    val seeds = Seq(0L, 1L).toDF("node")
    val a = GraphOps.seedDistance(pairs, "id_a", "id_b", seeds, "node", 8)
      .orderBy($"node").collect().toSeq
    val b = GraphOps.seedDistance(pairs.repartition(7, $"id_b"), "id_a", "id_b",
        seeds, "node", 8)
      .orderBy($"node").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("seed distance: driver fast path equals the distributed frontier loop") {
    val pairs = graft.operators.VectorQueries.embedNearDupQ(spark, TestSpark.sf)
    val seeds = Seq(0L, 1L, 7L).toDF("node")
    val fast = TestSpark.onDriver(GraphOps.seedDistance(pairs, "id_a", "id_b", seeds, "node", 8))
      .orderBy($"node").collect().toSeq
    val dist = GraphOps.seedDistance(pairs, "id_a", "id_b", seeds, "node", 8,
        smallGraphMax = 0L) // forces the distributed loop
      .orderBy($"node").collect().toSeq
    assert(fast == dist && fast.nonEmpty)
  }

  test("pagerank/ppr/hits: driver fast path equals the distributed iteration") {
    // small literal graphs keep this test short; each kernel still runs
    // its driver replay and its distributed loop. Weighted, with a
    // cycle, a chord and a dangling node (6).
    val e = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (3L, 4L, 5L), (4L, 5L, 1L),
        (5L, 1L, 1L), (2L, 6L, 4L)).toDF("src", "dst", "w")
    val fastPr = TestSpark.onDriver(GraphOps.pageRank(e, "src", "dst", "w", iters = 3))
      .orderBy($"node").collect().toSeq
    val distPr = GraphOps.pageRank(e, "src", "dst", "w", iters = 3,
        smallGraphMax = 0L) // forces the distributed loop
      .orderBy($"node").collect().toSeq
    assert(fastPr == distPr && fastPr.nonEmpty)
    val seeds = Seq(1L, 3L).toDF("seed")
    val fastPpr = TestSpark.onDriver(GraphOps.personalizedPageRank(e, "src", "dst", "w",
        seeds, "seed", iters = 3))
      .orderBy($"node").collect().toSeq
    val distPpr = GraphOps.personalizedPageRank(e, "src", "dst", "w",
        seeds, "seed", iters = 3, smallGraphMax = 0L)
      .orderBy($"node").collect().toSeq
    assert(fastPpr == distPpr && fastPpr.nonEmpty)
    val le = e.select($"src", pmod($"dst" * 7L + 3L, lit(25L)).as("dst"))
    val fastH = TestSpark.onDriver(graft.operators.WebIr.hits(le, "src", "dst", iters = 2))
      .orderBy($"node").collect().toSeq
    val distH = graft.operators.WebIr.hits(le, "src", "dst", iters = 2,
        smallGraphMax = 0L)
      .orderBy($"node").collect().toSeq
    assert(fastH == distH && fastH.nonEmpty)
    // a path longer than the rounds (labels still moving at the last
    // one) and bridged triangles
    val pairs = Seq((6L, 5L), (5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (10L, 11L), (11L, 12L),
        (12L, 10L), (12L, 13L), (13L, 14L), (14L, 15L), (15L, 13L)).toDF("id_a", "id_b")
    val fastL = TestSpark.onDriver(GraphOps.labelPropagation(pairs, "id_a", "id_b", iters = 4))
      .orderBy($"node").collect().toSeq
    val distL = GraphOps.labelPropagation(pairs, "id_a", "id_b", iters = 4,
        smallGraphMax = 0L)
      .orderBy($"node").collect().toSeq
    assert(fastL == distL && fastL.nonEmpty)
  }

  test("hyperball/walks: driver fast path equals the distributed iteration") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf).select($"doc_id")
    val e = docs.select($"doc_id".as("src"), ($"doc_id" / 2).cast("long").as("dst"))
      .unionAll(docs.select($"doc_id".as("src"),
        (($"doc_id" / 2).cast("long") + 1).as("dst")))
    val fastB = TestSpark.onDriver(GraphOps.hyperBall(e, "src", "dst", p = 4, maxRadius = 3))
      .orderBy($"node", $"radius").collect().toSeq
    val distB = GraphOps.hyperBall(e, "src", "dst", p = 4, maxRadius = 3,
        smallGraphMax = 0L)
      .orderBy($"node", $"radius").collect().toSeq
    assert(fastB == distB && fastB.nonEmpty)
    val fastW = TestSpark.onDriver(GraphOps.deterministicWalks(e, "src", "dst", 2, 4))
      .orderBy($"start", $"walk", $"step").collect().toSeq
    val distW = GraphOps.deterministicWalks(e, "src", "dst", 2, 4,
        smallGraphMax = 0L)
      .orderBy($"start", $"walk", $"step").collect().toSeq
    assert(fastW == distW && fastW.nonEmpty)
  }

  test("k-core peel: driver fast path equals the distributed peel loop") {
    // ids disjoint by parity (the purchaseEdges shape); k=2 over a
    // clique + pendant so the cascade spans several rounds
    val pairs = Seq((2L, 3L), (2L, 5L), (4L, 3L), (4L, 5L), (6L, 3L),
        (6L, 5L), (8L, 3L), (10L, 5L), (10L, 7L), (12L, 7L))
      .toDF("a", "b")
    val fast = TestSpark.onDriver(GraphOps.kCorePeel(pairs, "a", "b", k = 2, rounds = 6))
      .orderBy($"node").collect().toSeq
    val dist = GraphOps.kCorePeel(pairs, "a", "b", k = 2, rounds = 6,
        smallGraphMax = 0L)
      .orderBy($"node").collect().toSeq
    assert(fast == dist && fast.nonEmpty)
    // and on the real purchase graph at the test SF, against the
    // distributed form with the registered query's parameters
    val pe = GraphOps.purchaseEdges(spark, TestSpark.sf)
    val f2 = TestSpark.onDriver(GraphOps.kCorePeel(pe, "ca", "sb", k = 48, rounds = 6))
      .orderBy($"node").collect().toSeq
    val d2 = GraphOps.kCorePeel(pe, "ca", "sb", k = 48, rounds = 6,
        smallGraphMax = 0L)
      .orderBy($"node").collect().toSeq
    assert(f2 == d2 && f2.nonEmpty)
  }
}
