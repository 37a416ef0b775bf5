package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `GraftSession.builder`'s sizing on the `local[4]` test session: a
  * small input spreads over the cores instead of one task per stage, a
  * tiny one still runs as one, and generated code stays compiled. */
class SessionSizingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  /** One parquet file of `rows` incompressible rows, written with
    * `rowGroupBytes` row groups; returns its path. */
  private def parquetFile(name: String, rows: Int, rowGroupBytes: Int): Path = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString + "/t"
    spark.range(0, rows, 1, 1)
      .select($"id", sha2($"id".cast("string"), 512).as("h"), sha2(($"id" * 7).cast("string"), 512).as("g"))
      .write.option("parquet.block.size", rowGroupBytes.toString).parquet(dir)
    val f = new Path(dir).getFileSystem(conf).listStatus(new Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
    assert(f.length == 1, f.toSeq)
    f.head
  }

  private def rowGroups(p: Path): Int = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try r.getRowGroups.size finally r.close()
  }

  private def bytes(p: Path): Long = p.getFileSystem(conf).getFileStatus(p).getLen

  /** Row counts of the partitions `df` runs as, its empty ones included. */
  private def partitionRows(df: DataFrame): Seq[Int] =
    df.mapPartitions(it => Iterator(it.size)).collect().toSeq

  test("a ~1 MB parquet file of many row groups scans as one split per core") {
    val f = parquetFile("graft_sizing_scan", rows = 4000, rowGroupBytes = 96 * 1024)
    assert(bytes(f) > 700 * 1024 && bytes(f) < 1500 * 1024, bytes(f))
    assert(rowGroups(f) >= 8, rowGroups(f))
    val parts = partitionRows(spark.read.parquet(f.toString))
    assert(parts.sum == 4000)
    assert(parts.count(_ > 0) >= 4, s"row groups per split: $parts")
  }

  test("a shuffle of a few hundred KB coalesces to more than one reducer") {
    val df = spark.range(0, 3000, 1, 4)
      .select($"id", sha2($"id".cast("string"), 512).as("h"))
      .repartition($"id")
    val parts = partitionRows(df)
    assert(parts.sum == 3000)
    assert(parts.size > 1, s"reducers after AQE coalescing: $parts")
  }

  test("a file under 256 KiB still scans as one split") {
    val f = parquetFile("graft_sizing_tiny", rows = 600, rowGroupBytes = 16 * 1024)
    assert(bytes(f) < 256 * 1024, bytes(f))
    assert(rowGroups(f) > 1, rowGroups(f))
    assert(partitionRows(spark.read.parquet(f.toString)) == Seq(600))
  }

  test("code compiled once is reused after more than 100 other classes are compiled") {
    // the codegen cache reads its static size once per JVM, from the
    // session active on the first thread to generate code
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    def compile(i: Int) = CodeGenerator.compile(new CodeAndComment(
      s"public Object generate(Object[] references) { return Integer.valueOf($i); }",
      Map.empty))._1
    val first = compile(-1)
    (0 until 150).foreach(compile)
    assert(compile(-1) eq first, "the first class was evicted and compiled again")
  }
}
