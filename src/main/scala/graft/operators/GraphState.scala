package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.VersionLog

/** Incremental graph state (SURVEY.md §2 row 139) — PageRank over a
  * link graph that GROWS by delta edge batches, without re-deriving
  * the corpus-scale edge list per refresh. The StateStore delta
  * posture applied to graphs:
  *
  *  - edge deltas land as per-batch aggregated `(src, dst, w)` RAW
  *    count partitions under `edges/ingest=<batchId>` — commit bytes
  *    are O(batch); existing state is never read on the write path.
  *    Raw counts (not compressed weights) because raw counts are the
  *    ADDITIVE quantity: Σ batches == direct derivation, exactly.
  *    Each batch dir is overwritten on retry → idempotent appends.
  *  - rank state is versioned `ranks/v=<n>/<token>`, each refresh
  *    committed through [[graft.sources.VersionLog]] as a whole
  *    version (written in place, then `commits/v<n>` claimed and
  *    `LATEST` flipped; every version is kept, and a refresh that dies
  *    mid-write leaves nothing a reader resolves), read back to
  *    warm-start the next refresh (Hadoop FileSystem API —
  *    object-store-safe, FsContractSpec's scheme rule applies). A
  *    refresh therefore pays (a) one aggregation over the
  *    accumulated edge state — node-pair bounded, far below corpus
  *    scale — and (b) `iters` O(nodes) PageRank iterations, instead of
  *    the full cold derivation+solve.
  *
  * Warm-start exactness: the damped update is a pure integer function
  * of (ranks, edges, n), so persist-and-resume composes — k1 then k2
  * iterations through state equals k1+k2 straight (GraphSpec pins the
  * identity; ranks round-trip as longs, bit-exact). At 100 TB the
  * rank/edge states stay DISTRIBUTED; the only driver values are the
  * version number and node count.
  */
object GraphState {

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Aggregate one batch's edges to raw (src, dst, w) counts and land
    * them as the batch's own partition. Additive across batches with
    * disjoint underlying events; retrying a batchId overwrites its own
    * partition only. */
  def commitEdgeDelta(spark: SparkSession, edges: DataFrame,
                      srcCol: String, dstCol: String, wCol: String,
                      root: String, batchId: String): Unit = {
    require(batchId.nonEmpty && !batchId.contains("/"),
      s"batchId must be a plain name, got '$batchId'")
    edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"),
        col(wCol).cast(LongType).as("w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .write.mode("overwrite").parquet(s"$root/edges/ingest=$batchId")
  }

  /** The accumulated raw edge weights: one aggregation over the delta
    * table (node-pair bounded). */
  def edgesFromState(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/edges")
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))

  private def home(root: String)(v: Long) = new Path(s"$root/ranks/v=$v")

  /** Latest committed rank version, if any. */
  def latestRankVersion(spark: SparkSession, root: String): Option[Long] =
    VersionLog.latest(fs(spark, root), root)

  /** Persisted ranks at the latest version. */
  def ranks(spark: SparkSession, root: String): Option[DataFrame] =
    ranksAt(spark, root, latestRankVersion(spark, root))

  private def ranksAt(spark: SparkSession, root: String, v: Option[Long]) =
    v.map(v => spark.read.parquet(VersionLog.dir(fs(spark, root), root, v, home(root))))

  /** One refresh: solve `iters` iterations over the accumulated edge
    * state, warm-started from the persisted ranks (new nodes enter at
    * the uniform rank), and commit the result as the next version.
    * `compress` maps accumulated raw counts to bounded weights before
    * the solve (the q_pagerank 1+(w-1)/1024 posture — applied AFTER
    * accumulation so additivity is never broken). A refresh that loses
    * its version to a concurrent one discards its result and throws
    * ConcurrentModificationException. */
  def refreshRanks(spark: SparkSession, root: String, iters: Int,
                   compress: org.apache.spark.sql.Column => org.apache.spark.sql.Column = identity,
                   scale: Long = 1000000000000L): DataFrame = {
    val e = edgesFromState(spark, root)
      .select(col("src"), col("dst"), compress(col("w")).as("w"))
    val (v, won) = VersionLog.commitNext(fs(spark, root), root, home(root)) { (cur, dir) =>
      GraphOps.pageRank(e, "src", "dst", "w", iters, scale, init = ranksAt(spark, root, cur))
        .write.parquet(dir)
    }
    if (!won) throw new java.util.ConcurrentModificationException(
      s"rank version $v under $root was committed by another refresh")
    ranksAt(spark, root, Some(v)).get
  }

  // ---- Registered query ----------------------------------------------------

  /** §2 row 139 — the nation-flow graph ingested as TWO disjoint delta
    * batches (odd/even orderkeys), accumulated through the persisted
    * edge state, then solved cold for 3 iterations: bit-identical to
    * q_pagerank's direct derivation, so the same oracle replays it —
    * the gate proves delta additivity through real on-disk state. */
  def pageRankIncrQ(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_graph_state").toString
    // One derivation pass + one map-side-combined shuffle feeds BOTH
    // delta batches: aggregating the corpus-scale lineitem⋈orders rows
    // by (parity, src, dst) up front leaves a node-pair-bounded frame
    // to persist and slice, instead of re-deriving and re-shuffling the
    // raw edge stream once per commit (each commit is its own action).
    // commitEdgeDelta's internal groupBy re-aggregates the pre-summed
    // rows — sum of per-parity sums, byte-identical delta contents.
    val raw = GraphOps.rawNationFlowEdges(s, d)
      .groupBy((col("l_orderkey") % 2).as("__par"), col("src"), col("dst"))
      .agg(sum(col("w")).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      commitEdgeDelta(s, raw.filter(col("__par") === 0)
        .select(col("src"), col("dst"), col("w")), "src", "dst", "w", root, "even")
      commitEdgeDelta(s, raw.filter(col("__par") === 1)
        .select(col("src"), col("dst"), col("w")), "src", "dst", "w", root, "odd")
    } finally { raw.unpersist(); () }
    val compressed = (w: org.apache.spark.sql.Column) =>
      lit(1L) + GraphOps.fdiv(w - 1L, lit(1024L))
    refreshRanks(s, root, iters = 3, compress = compressed)
      .select(col("node"), col("rank")).orderBy(col("node"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank_incr" -> (pageRankIncrQ _),
  )

  /** Delta additivity makes the accumulated state equal the direct
    * derivation, so the incremental query replays with q_pagerank's
    * exact oracle. */
  val oracles: Map[String, String] = Map(
    "q_pagerank_incr" -> GraphOps.oracles("q_pagerank"),
  )
}
