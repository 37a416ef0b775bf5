package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump `only` (or all) registered queries against `sfDir` into
    * `outDir`, one parquet dir per query, plus the oracle SQL map —
    * the shape tools/compare_oracle.py consumes. Shared by the driver
    * gate (main) and the scale-parity probe (graft.ScaleParity). */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           only: Option[Set[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // The driver's pandas compare sorts every column; list values
        // are unsortable there (q_wordpiece went red in round 13 this
        // way). Reject ARRAY/MAP/STRUCT outputs loudly at dump time so
        // a new query can never reach the gate with one.
        val complex = df.schema.fields.filter(f => f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType  => true
          case _: org.apache.spark.sql.types.MapType    => true
          case _: org.apache.spark.sql.types.StructType => true
          case _ => false
        })
        require(complex.isEmpty,
          s"query $name emits non-scalar column(s) the gate harness " +
          s"cannot sort: ${complex.map(f => s"${f.name}: ${f.dataType.sql}")
            .mkString(", ")} — join arrays to strings (array_join)")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Many operators persist call-lifetime shared subplans (persist
      // audit, SURVEY §21); over a 301-query dump those entries
      // accumulate into real memory pressure. Each query's write is
      // done here, so its caches are dead weight — drop them.
      finally spark.sharedState.cacheManager.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_ONLY="q_a,q_b" restricts the dump for local oracle
    // iteration; unset (the driver's invocation) dumps everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }
}
