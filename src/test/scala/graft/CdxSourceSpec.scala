package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.CdxSource

/** DSv2 CDX write/read connector (SURVEY.md §2 row 281): lossless
  * round trip, staged-commit visibility (no partials on failure),
  * truncate-on-overwrite, file-order preservation of a sorted write,
  * and the space-free field contract. */
class CdxSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cols = Seq("surt", "warc_date", "file", "rec_offset",
    "content_length", "digest", "url_canon")

  private def sample(n: Int) =
    (1 to n).map { i =>
      (f"com,site$i%03d)/p", s"2024-02-0${i % 9 + 1}T00:00:00Z",
        s"a$i.warc", i.toLong * 100, i.toLong, i.toLong * 7 - 3,
        s"https://site$i.com/p")
    }.toDF(cols: _*)

  private def newDir() =
    java.nio.file.Files.createTempDirectory("cdxsrc_spec").toString

  test("write -> read round trip is lossless") {
    val dir = newDir()
    sample(25).orderBy($"surt")
      .write.format("graft.sources.v2.CdxSource")
      .option("path", dir).mode("overwrite").save()
    val back = spark.read.format("graft.sources.v2.CdxSource")
      .option("path", dir).load()
    assert(back.schema == CdxSource.schema)
    assert(back.orderBy($"surt").collect().toSeq ==
      sample(25).orderBy($"surt").collect().toSeq)
  }

  test("overwrite truncates prior contents; append accumulates") {
    val dir = newDir()
    sample(10).write.format("graft.sources.v2.CdxSource")
      .option("path", dir).mode("overwrite").save()
    sample(10).write.format("graft.sources.v2.CdxSource")
      .option("path", dir).mode("overwrite").save()
    val read = () => spark.read.format("graft.sources.v2.CdxSource")
      .option("path", dir).load()
    assert(read().count() == 10)
    sample(10).write.format("graft.sources.v2.CdxSource")
      .option("path", dir).mode("append").save()
    assert(read().count() == 20)
  }

  test("a failed write leaves no visible rows (staged commit)") {
    val dir = newDir()
    sample(8).write.format("graft.sources.v2.CdxSource")
      .option("path", dir).mode("overwrite").save()
    import org.apache.spark.sql.functions._
    val boom = sample(8).withColumn("digest",
      when(col("rec_offset") > 400L,
        raise_error(lit("task failure")).cast("long")).otherwise(col("digest")))
    intercept[Exception] {
      boom.write.format("graft.sources.v2.CdxSource")
        .option("path", dir).mode("append").save()
    }
    val back = spark.read.format("graft.sources.v2.CdxSource")
      .option("path", dir).load()
    assert(back.count() == 8) // the prior table, untouched; no partials
    assert(!new java.io.File(dir, "_staging").exists ||
      new java.io.File(dir, "_staging").list().isEmpty)
  }

  test("a sorted write stays sorted across file boundaries on read") {
    val dir = newDir()
    sample(200).orderBy($"surt")
      .repartitionByRange(4, $"surt") // force multiple part files
      .sortWithinPartitions($"surt")
      .write.format("graft.sources.v2.CdxSource")
      .option("path", dir).mode("overwrite").save()
    val files = new java.io.File(dir).list().filter(_.startsWith("part-")).sorted
    assert(files.length == 4)
    // concatenating files in name order yields globally sorted surts
    val inFileOrder = files.toSeq.flatMap { f =>
      scala.io.Source.fromFile(new java.io.File(dir, f)).getLines().toSeq
    }.map(_.split(' ')(0))
    assert(inFileOrder == inFileOrder.sorted)
  }

  test("fields with spaces are rejected at write; malformed lines at read") {
    intercept[IllegalArgumentException] {
      CdxSource.formatLine("com,x)/a b", "d", "f", 0L, 0L, 0L, "u")
    }
    intercept[IllegalArgumentException] {
      CdxSource.parseLine("only three fields")
    }
  }

  test("a schema mismatch fails loudly at write planning") {
    val dir = newDir()
    val e = intercept[Exception] {
      Seq((1L, "x")).toDF("a", "b")
        .write.format("graft.sources.v2.CdxSource")
        .option("path", dir).mode("overwrite").save()
    }
    assert(e.getMessage != null)
  }

  // ---- staged commit vs rename-as-copy object stores (graftoss:) ----------
  // The promote step is one rename PER FILE on an object store, so the
  // atomicity claim lives or dies on the manifest gate: these cases run
  // the real write path over ObjectStoreFs (CloudRenameSpec's fixture —
  // copy-then-delete renames with an armable crash budget) and prove
  // that no crash window ever shows a partial table.

  private def newOssDir(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftoss.impl", classOf[ObjectStoreFs].getName)
    "graftoss:" + newDir()
  }

  private def writeTo(dir: String, df: org.apache.spark.sql.DataFrame,
                      mode: String): Unit =
    df.repartitionByRange(4, $"surt").sortWithinPartitions($"surt")
      .write.format("graft.sources.v2.CdxSource")
      .option("path", dir).mode(mode).save()

  private def readBack(dir: String) =
    spark.read.format("graft.sources.v2.CdxSource").option("path", dir).load()

  test("graftoss: lifecycle — overwrite, append, truncate, all lossless") {
    val dir = newOssDir()
    writeTo(dir, sample(40), "overwrite")
    writeTo(dir, sample(40), "append")
    assert(readBack(dir).count() == 80)
    writeTo(dir, sample(25), "overwrite") // truncate resets the manifest log
    assert(readBack(dir).orderBy($"surt").collect().toSeq ==
      sample(25).orderBy($"surt").collect().toSeq)
  }

  test("graftoss: crash mid-promote on APPEND — prior table intact, retry lands rows exactly once") {
    val dir = newOssDir()
    writeTo(dir, sample(10), "overwrite")
    ObjectStoreFs.armCrash(dir, afterFiles = 2) // third promoted file dies mid-copy
    try intercept[Exception] { writeTo(dir, sample(10), "append") }
    finally ObjectStoreFs.disarm(dir)
    // the crashed job promoted some files but never wrote its manifest:
    // nothing of it is visible, the prior table reads whole
    assert(readBack(dir).orderBy($"surt").collect().toSeq ==
      sample(10).orderBy($"surt").collect().toSeq)
    writeTo(dir, sample(10), "append") // the retry
    assert(readBack(dir).count() == 20)
  }

  test("graftoss: crash mid-promote on OVERWRITE — old table stays fully readable") {
    val dir = newOssDir()
    writeTo(dir, sample(12), "overwrite")
    ObjectStoreFs.armCrash(dir, afterFiles = 1)
    try intercept[Exception] { writeTo(dir, sample(30), "overwrite") }
    finally ObjectStoreFs.disarm(dir)
    // truncate must not delete ANY old data before the manifest flip
    assert(readBack(dir).orderBy($"surt").collect().toSeq ==
      sample(12).orderBy($"surt").collect().toSeq)
    writeTo(dir, sample(30), "overwrite")
    assert(readBack(dir).count() == 30)
  }

  test("promoted-but-unmanifested files are invisible (hard-death window, no abort ran)") {
    val dir = newDir()
    writeTo(dir, sample(8), "overwrite")
    // simulate a process that died between promoting a file and writing
    // its manifest — the file sits in the root with a valid name
    val orphan = new java.io.File(dir, "part-00000-deadbeef.cdx")
    val w = new java.io.PrintWriter(orphan)
    w.println(CdxSource.formatLine("zz,orphan)/x", "2024-01-01T00:00:00Z",
      "o.warc", 0L, 1L, 2L, "https://orphan/x"))
    w.close()
    assert(readBack(dir).filter($"surt".startsWith("zz,orphan")).count() == 0)
    assert(readBack(dir).count() == 8)
  }

  test("a manifest-less dir of hand-written cdx files still reads (interop fallback)") {
    val dir = newDir()
    val f = new java.io.File(dir, "hand.cdx")
    val w = new java.io.PrintWriter(f)
    w.println(CdxSource.formatLine("com,hand)/a", "2024-01-01T00:00:00Z",
      "h.warc", 10L, 20L, 30L, "https://hand/a"))
    w.println(CdxSource.formatLine("com,hand)/b", "2024-01-02T00:00:00Z",
      "h.warc", 40L, 50L, 60L, "https://hand/b"))
    w.close()
    val back = readBack(dir).orderBy($"surt").collect()
    assert(back.length == 2 && back(0).getString(0) == "com,hand)/a")
  }

  test("append to a legacy manifest-less dir seeds pre-existing files into the first manifest") {
    val dir = newDir()
    // a legacy table: two hand-assembled cdx files, no manifest log
    for ((name, surt) <- Seq("hand1.cdx" -> "com,legacy)/a",
                             "hand2.cdx" -> "com,legacy)/b")) {
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      w.println(CdxSource.formatLine(surt, "2024-01-01T00:00:00Z",
        "h.warc", 10L, 20L, 30L, s"https://legacy/${name.head}"))
      w.close()
    }
    assert(readBack(dir).count() == 2) // listing fallback sees both
    // the FIRST manifested commit is an APPEND: without the legacy
    // seed the manifest would name only the new job's files and the
    // hand-written rows would silently vanish from reads
    sample(5).write.format("graft.sources.v2.CdxSource")
      .option("path", dir).mode("append").save()
    assert(readBack(dir).count() == 7)
    assert(readBack(dir).filter($"surt".startsWith("com,legacy")).count() == 2)
    // the manifest log now governs: a second append must NOT re-seed
    // (the legacy files would double), and the legacy rows persist
    sample(3).write.format("graft.sources.v2.CdxSource")
      .option("path", dir).mode("append").save()
    assert(readBack(dir).count() == 10)
    assert(readBack(dir).filter($"surt".startsWith("com,legacy")).count() == 2)
    // overwrite still truncates everything, legacy files included
    sample(4).write.format("graft.sources.v2.CdxSource")
      .option("path", dir).mode("overwrite").save()
    assert(readBack(dir).count() == 4)
    assert(readBack(dir).filter($"surt".startsWith("com,legacy")).count() == 0)
  }
}
