package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.LongType

/** Driver replay for the small-graph fast paths. Each iterative graph
  * kernel pays 3–6 driver-scheduled Spark jobs per round in its
  * distributed form; a graph that fits the driver is replayed there
  * instead, with the same integer arithmetic and tie order, so the
  * output is row-identical. This object is the one way a replay gets
  * its input and hands back its output: [[collect]] ships a frame as
  * packed `Array[Long]` columns built inside the tasks (no `Row` is
  * held on the driver), [[Graph]] makes node ids dense so replay state
  * is primitive arrays indexed by node, and [[frame]] turns the
  * result columns into a local relation. */
private[operators] object DriverGraph {

  /** Driver bytes one replay may hold. Each collected edge is charged
    * its whole cost up front:
    *  - per edge, 28 + 8·cols: 8 per packed long column (joining the
    *    partition chunks doubles this briefly, before anything below
    *    exists), 16 for both endpoints in the id sort, 8 for the `Int`
    *    endpoint indices and 4 for the adjacency target;
    *  - per node, at most two per edge: 8 for the id, 4 for the
    *    adjacency offset (4 more while it is built), 8 per word of the
    *    kernel's own per-node state and [[OutRowBytes]] per output row.
    * A seed or warm-start frame is charged its packed columns (and its
    * output rows) from what the edges leave. A frame over the budget
    * never reaches the driver. */
  final val BudgetBytes: Long = 256L << 20

  /** One output row of up to four longs: 32 B in the replay's result
    * columns, then an UnsafeRow (~88 B with its byte array) held twice,
    * by the local relation and by the scan's own copy. */
  final val OutRowBytes: Long = 32L + 2L * 88L

  /** The `smallGraphMax` default: no edge cap beyond the budget. */
  final val NoCap: Long = Long.MaxValue

  /** A cell read as SQL NULL in a [[frame]] column declared nullable. */
  final val Null: Long = Long.MinValue

  /** `edges` (long columns, source and target first) as a [[Graph]],
    * if it has at most `maxEdges` rows and they fit the budget for a
    * kernel holding `nodeWords` words and `outRows` output rows per
    * node. */
  def graph(edges: DataFrame, nodeWords: Int, outRows: Int = 1,
            maxEdges: Long = NoCap): Option[Graph] = {
    val cols = edges.columns.length
    val rowBytes = 28L + 8L * cols + 2L * (16L + 8L * nodeWords + OutRowBytes * outRows)
    collect(edges, rowBytes, maxEdges)
      .map(c => new Graph(c, BudgetBytes - c(0).length * rowBytes))
  }

  /** The long columns of `df`, one array each in row order, if it has
    * at most `maxRows` rows and they fit `budget` at `rowBytes` each;
    * `None` otherwise, and the kernel takes its distributed path. The
    * count is one job (it fills the persist or checkpoint the
    * distributed path reads anyway); packing is one more.
    * `maxRows <= 0` forces the distributed path and runs neither. A
    * null cell throws, naming its column: an id never reads as 0. */
  def collect(df: DataFrame, rowBytes: Long, maxRows: Long = NoCap,
              budget: Long = BudgetBytes): Option[Array[Array[Long]]] = {
    val names = df.columns
    require(df.schema.forall(_.dataType == LongType),
      s"DriverGraph.collect needs long columns, got ${df.schema.simpleString}")
    if (maxRows <= 0L) return None
    val rdd = ColumnBridge.toRdd(df) // one RDD for both jobs: a shuffle under it runs once
    val n = rdd.count()
    if (n > maxRows || n > budget / rowBytes) return None
    val k = names.length
    val parts = if (n == 0L) Array.empty[(Int, Array[Array[Long]])] else rdd.mapPartitions { it =>
      val bufs = Array.fill(k)(new scala.collection.mutable.ArrayBuilder.ofLong)
      var nullCol = -1
      it.foreach(r => (0 until k).foreach(j =>
        if (r.isNullAt(j)) nullCol = j else bufs(j) += r.getLong(j)))
      Iterator.single((nullCol, bufs.map(_.result())))
    }.collect()
    parts.find(_._1 >= 0).foreach { case (j, _) =>
      throw new IllegalArgumentException(s"DriverGraph.collect: null id in column '${names(j)}'")
    }
    Some(Array.tabulate(k)(j => Array.concat(parts.map(_._2(j)).toIndexedSeq: _*)))
  }

  /** The sorted distinct values of `a`, which is sorted in place. */
  def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var n = 0
    a.indices.foreach(i => if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 })
    java.util.Arrays.copyOf(a, n)
  }

  /** Packed edge columns over dense node indices: node `v` is `ids(v)`,
    * ids ascending (index order is id order); edge `i` runs `src(i)` →
    * `dst(i)` and carries `cols(j)(i)`; node `v`'s targets are
    * `adj(off(v) until off(v + 1))`. `spareBytes` is the budget the
    * edges leave for a seed or warm-start frame. */
  final class Graph(val cols: Array[Array[Long]], val spareBytes: Long) {
    val ids: Array[Long] = sortedDistinct(cols(0) ++ cols(1))
    def n: Int = ids.length
    /** The index of `id`, negative when it is not a node. */
    def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    val src: Array[Int] = cols(0).map(indexOf)
    val dst: Array[Int] = cols(1).map(indexOf)
    val off: Array[Int] = new Array[Int](n + 1)
    src.foreach(s => off(s + 1) += 1)
    (1 to n).foreach(v => off(v) += off(v - 1))
    val adj: Array[Int] = {
      val next = off.clone()
      val a = new Array[Int](src.length)
      src.indices.foreach { i => a(next(src(i))) = dst(i); next(src(i)) += 1 }
      a
    }
  }

  /** The replay's result as a local relation, the plan `toDF` on a
    * driver `Seq` builds: one long column per (name, values) pair, the
    * first `rows` values of each (all of them by default). A column
    * named in `nullable` reads [[Null]] as NULL. */
  def frame(spark: SparkSession, cols: Seq[(String, Array[Long])],
            nullable: Set[String] = Set.empty, rows: Int = -1): DataFrame = {
    val w = new UnsafeRowWriter(cols.length)
    val data = (0 until (if (rows < 0) cols.head._2.length else rows)).map { i =>
      w.reset()
      w.zeroOutNullBytes()
      cols.zipWithIndex.foreach { case ((name, vs), j) =>
        if (nullable(name) && vs(i) == Null) w.setNullAt(j) else w.write(j, vs(i)) }
      w.getRow.copy()
    }
    ColumnBridge.ofRows(spark, LocalRelation(
      cols.map { case (name, _) => AttributeReference(name, LongType, nullable(name))() }, data))
  }
}
