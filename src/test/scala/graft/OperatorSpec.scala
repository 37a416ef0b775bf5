package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sources.SchemaAlign

/** Unit tests for the ETL operator library (SURVEY.md §2.1). */
class OperatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("Flatten: nested structs become __ paths, arrays become JSON") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Row("a", Row(2L)), Seq(1, 2, 3)))),
      StructType(Seq(
        StructField("id", LongType),
        StructField("s", StructType(Seq(
          StructField("x", StringType),
          StructField("inner", StructType(Seq(StructField("y", LongType))))))),
        StructField("arr", ArrayType(IntegerType)))))
    val flat = Flatten.flatten(df)
    assert(flat.columns.toSeq == Seq("id", "s__x", "s__inner__y", "arr"))
    val row = flat.collect().head
    assert(row.getString(1) == "a" && row.getLong(2) == 2L)
    assert(row.getString(3) == "[1,2,3]")
  }

  test("Flatten.withDay drops unparseable dates") {
    val df = Seq(("2024-01-01", 1), ("not-a-date", 2)).toDF("d", "v")
    val out = Flatten.withDay(df, "d")
    assert(out.count() == 1)
  }

  test("SchemaAlign: missing column becomes NULL, extra column errors") {
    val df = Seq((1L, "x")).toDF("id", "name")
    val target = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("extra_col", DoubleType)))
    val aligned = SchemaAlign.align(df, target)
    assert(aligned.columns.toSeq == Seq("id", "name", "extra_col"))
    assert(aligned.collect().head.isNullAt(2))

    val narrow = StructType(Seq(StructField("id", LongType)))
    assertThrows[SchemaAlign.ExtraFieldsException] {
      SchemaAlign.align(df, narrow)
    }
  }

  test("Incremental.newerThanWatermark filters past the max landed key") {
    val existing = Seq(1, 2, 3).toDF("k")
    val incoming = Seq(2, 3, 4, 5).toDF("k")
    val out = Incremental.newerThanWatermark(incoming, existing, "k")
    assert(out.as[Int].collect().sorted.toSeq == Seq(4, 5))
  }

  test("Incremental.newerThanWatermark: empty existing uses the default (backfill)") {
    val existing = Seq.empty[Int].toDF("k")
    val incoming = Seq(1, 2, 3).toDF("k")
    val out = Incremental.newerThanWatermark(incoming, existing, "k", Some(lit(1)))
    assert(out.as[Int].collect().sorted.toSeq == Seq(2, 3))
    // no default + empty existing -> nothing passes (null watermark)
    assert(Incremental.newerThanWatermark(incoming, existing, "k").count() == 0)
  }

  test("Overlap.duplicates reports provenance") {
    val df = Seq((1, "a", 10L), (1, "a", 11L), (2, "b", 12L)).toDF("k", "t", "id")
    val dups = Overlap.duplicates(df, Seq(col("k"), col("t")), col("id")).collect()
    assert(dups.length == 1)
    val r = dups.head
    assert(r.getAs[Long]("n_dup") == 2 && r.getAs[Long]("first_id") == 10L
      && r.getAs[Long]("last_id") == 11L)
  }

  test("Overlap.rangeOverlaps finds intersecting ranges only") {
    val r = Seq(
      (1, "a", 0, 10), (1, "b", 5, 15), (1, "c", 20, 30),
      (2, "a", 0, 10), (2, "b", 11, 20)).toDF("g", "l", "s", "e")
    val out = Overlap.rangeOverlaps(r, "g", "l", "s", "e")
      .select("g", "label_a", "label_b").as[(Int, String, String)].collect().toSet
    assert(out == Set((1, "a", "b")))
  }

  test("GapFill.missingDays finds holes per group") {
    val df = Seq(
      (1, "2024-01-01"), (1, "2024-01-03"),
      (2, "2024-01-01"), (2, "2024-01-02")).toDF("g", "ds")
      .withColumn("day", to_date(col("ds"))).drop("ds")
    val out = GapFill.missingDays(df, Seq("g"), "day")
      .select(col("g"), date_format(col("day"), "yyyy-MM-dd"))
      .as[(Int, String)].collect().toSet
    assert(out == Set((1, "2024-01-02")))
  }

  test("CombineDaily coalesces the key across full outer joins") {
    val a = Seq(("d1", 1)).toDF("day", "a_n")
    val b = Seq(("d2", 2)).toDF("day", "b_n")
    val c = Seq(("d1", 3), ("d2", 4)).toDF("day", "c_n")
    val out = CombineDaily.combine(Seq(a, b, c)).orderBy("day").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("d1", "d2"))
    assert(out(0).getAs[Int]("a_n") == 1 && out(0).isNullAt(2) && out(0).getAs[Int]("c_n") == 3)
  }

  test("decimal-sum corr matches Spark's streaming corr and is partitioning-invariant") {
    val li = graft.sources.Tables.lineitem(spark, TestSpark.sf)
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Profiling.corrPairs(df, Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy($"col_x", $"col_y")
        .select($"col_x", $"col_y", $"corr").as[(String, String, Double)].collect().toSeq
    val a = run(li.repartition(3))
    val b = run(li.repartition(17).orderBy($"l_orderkey".desc))
    assert(a == b, "exact decimal sums must make corr bit-identical across partitionings")
    // sanity vs the (order-dependent) built-in estimator
    val builtin = li.agg(corr($"l_quantity", $"l_extendedprice")).head().getDouble(0)
    val ours = a.find(r => r._1 == "l_quantity" && r._2 == "l_extendedprice").get._3
    assert(math.abs(ours - builtin) < 1e-9, s"$ours vs builtin $builtin")
  }
}
