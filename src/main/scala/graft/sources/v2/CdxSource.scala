package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 table for the CDX archive index (SURVEY.md §2 row
  * 281) — the WRITE companion of [[WarcSource]] (which reads archives
  * but lands its index through generic parquet): Common Crawl
  * publishes the index as sorted plain-text cdx-00xxx files, and this
  * connector closes the read/write loop in that shape.
  *
  *  - **Line format**: one space-separated record per line, SURT
  *    first (`surt warc_date file rec_offset content_length digest
  *    url_canon`) — every field is space-free by construction (SURTs
  *    and canonical URLs are percent-encoded, the rest are numerals),
  *    so the format is self-delimiting, greppable, and mergesortable
  *    by prefix exactly like real CDX.
  *  - **Write protocol**: each task writes a private staging file
  *    under `<path>/_staging/<queryId>/`; the driver-side commit
  *    renames only the files named in the commit messages into the
  *    table root and drops the staging dir — task retries/aborts
  *    leave no visible partials (the v1-committer discipline, here on
  *    the connector's own surface). The session Hadoop conf rides a
  *    [[SerializableHadoopConf]] to the writers, same as the read
  *    path.
  *  - **Sortedness**: a globally `orderBy(surt)`-ed input arrives
  *    range-partitioned, so file i's SURTs all precede file i+1's —
  *    the partition-indexed file names (`part-00000-...`) preserve
  *    the total order on disk, which is what makes a CDX binary-
  *    searchable.
  *  - **Read path**: one InputPartition per file (the WarcSource
  *    planning shape), line-parsed back to the exact schema.
  *
  * Scale: writers stream line-by-line (no buffering of the partition),
  * the commit is O(files) driver-side renames, and a 100k-file index
  * reads as 100k independent tasks. */
class CdxSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdxSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty, "CdxSource requires option 'path'")
    new CdxTable(path)
  }
}

object CdxSource {
  val schema: StructType = StructType(Seq(
    StructField("surt", StringType, nullable = false),
    StructField("warc_date", StringType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("rec_offset", LongType, nullable = false),
    StructField("content_length", LongType, nullable = false),
    StructField("digest", LongType, nullable = false),
    StructField("url_canon", StringType, nullable = false)))

  def formatLine(surt: String, date: String, file: String, off: Long,
                 len: Long, digest: Long, url: String): String = {
    // Write-time validation must match read-time parsing exactly: a
    // space would shift fields, and an EMPTY field would vanish under
    // a limit-less split (java's split drops trailing empties) — so
    // both are rejected here, and parseLine splits with limit -1 so
    // that even a hand-edited line with an empty field fails the
    // 7-field check loudly instead of mis-parsing.
    def ok(s: String) = s.nonEmpty && !s.contains(' ')
    require(ok(surt) && ok(date) && ok(file) && ok(url),
      "CDX fields must be non-empty and space-free (percent-encode upstream)")
    s"$surt $date $file $off $len $digest $url"
  }

  def parseLine(line: String): (String, String, String, Long, Long, Long, String) = {
    val p = line.split(" ", -1)
    require(p.length == 7 && p.forall(_.nonEmpty),
      s"malformed CDX line (${p.length} fields): $line")
    (p(0), p(1), p(2), p(3).toLong, p(4).toLong, p(5).toLong, p(6))
  }

  /** (queryId, partitionIndex) from a connector-written file name, or
    * None for a foreign file. Used by the scan to order partitions
    * NUMERICALLY — a lexicographic sort on the full path would break
    * at 100k partitions (part-100000 < part-99999) and interleave
    * append jobs' files by queryId mid-range. */
  private[v2] val FileName = """part-(\d+)-(.+)\.cdx""".r
  private[v2] def fileKey(name: String): Option[(String, Long)] = name match {
    case FileName(idx, qid) => Some((qid, idx.toLong))
    case _ => None
  }

  /** Listing-order file names of a log-less dir — the exact order
    * the fallback scan would read them in: connector-written files by
    * (queryId, NUMERIC partition index), foreign names after,
    * lexicographically. Shared by the scan fallback and by the legacy
    * append seed so "what a listing read showed" and "what the seeded
    * file list pins" can never disagree. */
  private[v2] def listingOrder(fs: org.apache.hadoop.fs.FileSystem,
                               root: Path): Seq[String] =
    fs.listStatus(root).filter(_.isFile)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
      .sortBy { n =>
        fileKey(n) match {
          case Some((qid, idx)) => (0, qid, idx, n)
          case None             => (1, "", 0L, n)
        }
      }.toSeq
}

/** The commit log that makes the table transition atomic on object
  * stores. Promoting staged part files is one RENAME PER FILE there
  * (rename-as-copy — no atomic directory move exists), so a crash
  * mid-promote would leave a partial set of new files visible if the
  * scan trusted directory listings. Instead, visibility is gated by a
  * [[graft.sources.VersionLog]] rooted at `_manifests`: each commit is
  * one WHOLE version whose home holds the table's full visible file
  * list — the previous list (or, on a legacy dir, the listing seed)
  * plus the job's files on append, the job's files alone on truncate.
  * The claim of `commits/v<N>` is the linearization point. Crash
  * before it: promoted files are invisible orphans; the retried job
  * simply commits its own files once (append idempotence). Crash after
  * it: the commit is durable and only best-effort cleanup remains. A
  * scan reads one list, from the newest marker, and never writes.
  *
  * A table with NO log (hand-assembled cdx files, or one written
  * before this log existed) falls back to listing — the plain-text
  * interop contract is unchanged. */
private[v2] object CdxLog {
  import org.apache.hadoop.fs.FileSystem
  import graft.sources.VersionLog

  private def logRoot(root: Path) = new Path(root, "_manifests").toString
  private def home(root: Path)(v: Long) = new Path(logRoot(root), s"v$v")

  /** Visible part-file names in commit order, or None when the table
    * has no log (foreign/legacy dir → caller falls back to directory
    * listing). Read-only. */
  def visibleFiles(fs: FileSystem, root: Path): Option[Seq[String]] =
    VersionLog.latest(fs, logRoot(root)).map(v => read(fs, root, v))

  private def read(fs: FileSystem, root: Path, v: Long): Seq[String] = {
    val in = fs.open(new Path(VersionLog.dir(fs, logRoot(root), v, home(root))))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toVector
    finally in.close()
  }

  /** Land `files` (already promoted into `root`) as one version;
    * returns it. A version lost to a concurrent committer rebuilds the
    * list from the winner's and retries, at most `MaxAttempts` times;
    * any I/O failure is rethrown at once, so a dead endpoint fails the
    * job instead of spinning. Legacy seed: the FIRST commit against a
    * dir that already holds visible cdx files (hand-assembled, or
    * written before the log existed) appends to them — otherwise the
    * new list would be the whole visible set and every pre-existing
    * row would silently vanish from reads. The seed lists the dir in
    * the exact fallback-scan order, so the read order before and after
    * the commit agrees on the legacy prefix. Truncate needs no seed. */
  val MaxAttempts = 100
  def commit(fs: FileSystem, root: Path, files: Seq[String], truncate: Boolean): Long = {
    def list(cur: Option[Long]): Seq[String] =
      if (truncate) files
      else cur.fold(CdxSource.listingOrder(fs, root).filterNot(files.toSet))(read(fs, root, _)) ++ files
    Iterator.range(0, MaxAttempts).map { _ =>
      VersionLog.commitNext(fs, logRoot(root), home(root)) { (cur, dir) =>
        val out = fs.create(new Path(dir), true)
        try out.write(list(cur).map(_ + "\n").mkString.getBytes("UTF-8")) finally out.close()
      }
    }.collectFirst { case (v, true) => v }.getOrElse(throw new java.io.IOException(
      s"CDX commit lost the version race $MaxAttempts times under ${logRoot(root)}"))
  }

  /** Best-effort post-truncate GC: drop the lists below `version` and
    * data files the new list does not name. Runs strictly AFTER the
    * claim — any failure leaves invisible garbage only. */
  def pruneBelow(fs: FileSystem, root: Path, version: Long, keep: Set[String]): Unit =
    try {
      fs.listStatus(new Path(logRoot(root))).map(_.getPath)
        .filter(p => p.getName.matches("v\\d+") && p.getName.drop(1).toLong < version)
        .foreach(fs.delete(_, true))
      fs.listStatus(root)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !keep.contains(s.getPath.getName))
        .foreach(s => fs.delete(s.getPath, false))
    } catch { case _: java.io.IOException => () }
}

class CdxTable(path: String) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"cdx(`$path`)"
  override def schema(): StructType = CdxSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CdxScanBuilder(path)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.schema().fields.map(f => (f.name, f.dataType)).toSeq ==
      CdxSource.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"CDX write schema must be ${CdxSource.schema.simpleString}, " +
        s"got ${info.schema().simpleString}")
    new CdxWriteBuilder(path, info.queryId())
  }
}

// ---- write path -------------------------------------------------------------

class CdxWriteBuilder(path: String, queryId: String)
  extends WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new CdxBatchWrite(path, queryId, doTruncate,
      new SerializableHadoopConf(
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()))
  }
}

final case class CdxCommit(stagedFile: String, finalName: String)
  extends WriterCommitMessage

class CdxBatchWrite(path: String, queryId: String, truncate: Boolean,
                    conf: SerializableHadoopConf) extends BatchWrite {
  private def stagingDir = s"$path/_staging/$queryId"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new CdxWriterFactory(stagingDir, queryId, conf)

  /** Only files named by committed tasks become visible; Spark
    * guarantees one commit message per successful task, so speculative
    * or retried attempts (which staged under distinct taskIds) are
    * simply never promoted.
    *
    * Object-store crash discipline (proven in CdxSourceSpec over the
    * `graftoss:` rename-as-copy FS): the per-file promotes can die at
    * any point and the table never shows a partial — promoted files
    * stay INVISIBLE until the job's version of the file list is
    * claimed ([[CdxLog.commit]], the linearization point). Truncate
    * deletes nothing up front; superseded data is pruned best-effort
    * only after the claim. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val f = root.getFileSystem(conf.value)
    f.mkdirs(root)
    // partition order, so the file list preserves a sorted write's order
    val ordered = messages.map { case c: CdxCommit => c }
      .sortBy(c => CdxSource.fileKey(c.finalName).map(_._2).getOrElse(0L))
    ordered.foreach { case CdxCommit(staged, name) =>
      val dst = new Path(root, name)
      if (f.exists(dst)) f.delete(dst, false) // idempotent re-commit
      require(f.rename(new Path(staged), dst), s"could not commit $staged -> $dst")
    }
    val names = ordered.map(_.finalName).toSeq
    val v = CdxLog.commit(f, root, names, truncate)
    if (truncate) CdxLog.pruneBelow(f, root, v, names.toSet)
    f.delete(new Path(stagingDir), true)
  }

  /** Drop the staging dir AND any files this job already promoted —
    * no committed list names them, so they were never visible; deleting them
    * just keeps a crashed job from leaving orphans for the GC. */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val f = root.getFileSystem(conf.value)
    messages.foreach {
      case CdxCommit(_, name) =>
        try f.delete(new Path(root, name), false)
        catch { case _: java.io.IOException => () }
      case _ => ()
    }
    f.delete(new Path(stagingDir), true)
  }
}

class CdxWriterFactory(stagingDir: String, queryId: String,
                       conf: SerializableHadoopConf) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CdxDataWriter(stagingDir, queryId, partitionId, taskId, conf)
}

class CdxDataWriter(stagingDir: String, queryId: String, partitionId: Int,
                    taskId: Long, conf: SerializableHadoopConf)
  extends DataWriter[InternalRow] {
  // partition-indexed final name preserves a range-partitioned input's
  // total order across ONE job's files; the queryId keeps a later
  // append job from colliding with (and silently replacing) an earlier
  // job's part files; the taskId suffix keeps retried attempts from
  // colliding in staging
  private val finalName = f"part-$partitionId%05d-$queryId.cdx"
  private val staged = new Path(s"$stagingDir/attempt-$taskId-$finalName")
  // opened lazily but TRACKED: abort on a writer that never wrote must
  // not force-create the staged file just to close it
  private var out: java.io.BufferedWriter = _
  private def writer: java.io.BufferedWriter = {
    if (out == null) {
      val f = staged.getFileSystem(conf.value)
      out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        f.create(staged, true), java.nio.charset.StandardCharsets.UTF_8))
    }
    out
  }

  override def write(r: InternalRow): Unit = {
    writer.write(CdxSource.formatLine(r.getUTF8String(0).toString,
      r.getUTF8String(1).toString, r.getUTF8String(2).toString,
      r.getLong(3), r.getLong(4), r.getLong(5), r.getUTF8String(6).toString))
    writer.write('\n')
  }

  override def commit(): WriterCommitMessage = {
    writer.close() // an empty partition still commits its (empty) file
    CdxCommit(staged.toString, finalName)
  }

  override def abort(): Unit = {
    if (out != null) {
      out.close()
      val f = staged.getFileSystem(conf.value)
      f.delete(staged, false); ()
    }
  }

  override def close(): Unit = ()
}

// ---- read path --------------------------------------------------------------

class CdxScanBuilder(path: String) extends ScanBuilder {
  override def build(): Scan = new CdxScan(path)
}

final case class CdxFilePartition(filePath: String) extends InputPartition

class CdxScan(path: String) extends Scan with Batch {
  private val hadoopConf = new SerializableHadoopConf(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  override def readSchema(): StructType = CdxSource.schema
  override def toBatch: Batch = this
  override def description(): String = s"CdxScan path=$path"

  /** Partition order: a logged table reads its files in COMMIT order
    * (each job's files contiguous, in partition order — [[CdxLog]]);
    * files promoted by a crashed commit are in no list and are never
    * read. A log-less dir (hand-assembled
    * cdx files, pre-log tables) falls back to listing, ordered by
    * (queryId, NUMERIC partition index) — numeric so the ordering
    * survives >99,999 partitions (a lexicographic path sort would put
    * part-100000 before part-99999). Either way "file order == surt
    * order" holds GLOBALLY only for a single overwrite job's output
    * (the q_cdx_source shape); under append mode it holds per-job,
    * which is the CDX merge-shard contract. Foreign file names sort
    * after, lexicographically. */
  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf.value)
    val files: Seq[Path] = CdxLog.visibleFiles(fs, p) match {
      case Some(names) => names.map(new Path(p, _))
      case None =>
        CdxSource.listingOrder(fs, p).map(new Path(p, _))
    }
    files.map(q => CdxFilePartition(q.toString): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdxReaderFactory(hadoopConf)
}

class CdxReaderFactory(conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CdxPartitionReader(partition.asInstanceOf[CdxFilePartition], conf)
}

class CdxPartitionReader(part: CdxFilePartition, conf: SerializableHadoopConf)
  extends PartitionReader[InternalRow] {

  private val reader = {
    val p = new Path(part.filePath)
    val f = p.getFileSystem(conf.value)
    new java.io.BufferedReader(new java.io.InputStreamReader(
      f.open(p), java.nio.charset.StandardCharsets.UTF_8))
  }
  private var line: String = _

  override def next(): Boolean = { line = reader.readLine(); line != null }

  override def get(): InternalRow = {
    val (surt, date, file, off, len, digest, url) = CdxSource.parseLine(line)
    InternalRow(UTF8String.fromString(surt), UTF8String.fromString(date),
      UTF8String.fromString(file), off, len, digest, UTF8String.fromString(url))
  }

  override def close(): Unit = reader.close()
}
