package graftbench

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

/** File-system call counters of the traced run (one JVM-wide set: in
  * local mode driver and executor threads share the process). */
object FsCounts {
  val names: Seq[String] = Seq("list", "status", "open", "create", "rename", "delete")
  val counters: Map[String, AtomicLong] = names.map(_ -> new AtomicLong).toMap
  def snapshot(): Map[String, Long] = counters.map { case (k, v) => k -> v.get }
}

/** Local disk under the `cfs:` scheme (the MockFs pattern of
  * FsContractSpec). */
class CountingRawFs extends RawLocalFileSystem {
  override def getScheme: String = CountingFs.Scheme
  override def getUri: URI = URI.create(CountingFs.Scheme + ":///")
}

/** The checksummed local file system, as `file:` uses it, with every
  * call the program makes counted. Registered only in traced runs, so
  * untraced timings never pay for it. */
class CountingFs extends LocalFileSystem(new CountingRawFs) {
  import FsCounts.counters
  private def tick(n: String): Unit = counters(n).incrementAndGet()

  override def getScheme: String = CountingFs.Scheme
  override def listStatus(p: Path): Array[FileStatus] = { tick("list"); super.listStatus(p) }
  override def getFileStatus(p: Path): FileStatus = { tick("status"); super.getFileStatus(p) }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    tick("open"); super.open(p, bufferSize)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    tick("create"); super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { tick("rename"); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    tick("delete"); super.delete(p, recursive)
  }
}

object CountingFs {
  val Scheme = "cfs"
}

/** Jobs, stages and tasks as a SparkListener sees them, each job
  * attributed to the graft module whose code issued it. */
final class JobTrace extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long, module: String)

  final class Totals {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  val jobs = mutable.ArrayBuffer[Job]()
  private val jobById = mutable.Map[Int, Job]()
  private val stageModule = mutable.Map[Int, String]()
  private val executionSite = mutable.Map[Long, String]()
  val totals = new Totals
  val taskMsByModule = mutable.Map[String, Long]().withDefaultValue(0L)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { executionSite(e.executionId) = e.details }
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val fromStages = js.stageInfos.iterator.map(s => JobTrace.moduleOf(s.details))
      .find(_.isDefined).flatten
    val fromExecution = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSite.get(id.toLong))
      .flatMap(JobTrace.moduleOf)
    val module = fromStages.orElse(fromExecution).getOrElse("unattributed")
    val job = Job(js.jobId, js.time, -1L, module)
    jobs += job
    jobById(js.jobId) = job
    js.stageIds.foreach(stageModule(_) = module)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(je.jobId).foreach(_.end = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val m = te.taskMetrics
    totals.tasks += 1
    if (m != null) {
      totals.runMs += m.executorRunTime
      totals.cpuNs += m.executorCpuTime
      totals.gcMs += m.jvmGCTime
      totals.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      totals.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      totals.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      taskMsByModule(stageModule.getOrElse(te.stageId, "unattributed")) += m.executorRunTime
    }
  }

  /** Milliseconds of [from, to) covered by at least one job. */
  def busyMs(from: Long, to: Long): Long = synchronized {
    val spans = jobs.iterator
      .map(j => (math.max(j.start, from), math.min(if (j.end < 0) to else j.end, to)))
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + (curE - curS)
  }
}

object JobTrace {
  private val Frame = raw"(?:at\s+)?([\w.$$]+)\.[\w$$<>]+\(".r.unanchored

  /** The module of the first graft frame in a long-form call site:
    * the innermost graft code that issued the action. */
  def moduleOf(callSite: String): Option[String] =
    Option(callSite).iterator.flatMap(_.split("\n")).collectFirst {
      case Frame(cls) if cls.startsWith("graft") => module(cls)
    }

  def module(cls: String): String =
    if (cls.startsWith("graftbench.")) "bench"
    else if (cls.startsWith("graft.sources.")) "sources"
    else if (cls.startsWith("graft.operators.")) "operators"
    else if (cls.startsWith("graft.streaming.")) "streaming"
    else if (cls.startsWith("graft.plans.") || cls.startsWith("graft.functions.")) "plans"
    else "graft"
}
