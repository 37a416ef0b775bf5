package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One timed operation of a workload's closed loop. */
final case class Op(kind: String, startMs: Long, endMs: Long, seconds: Double,
                    items: Long, error: Option[String])

/** A workload drives graft's public entry points from one client
  * thread; the harness owns timing, warm-up and tracing. */
trait Workload {
  /** Inputs, initial state and anything else before warm-up. */
  def setup(): Unit
  /** Runs the next operation; returns its kind and items of work.
    * `timeUp` tells that the phase has run its seconds and continues
    * only until [[phaseComplete]] holds. */
  def next(traced: Option[Spans], timeUp: Boolean): (String, Long)
  /** Whether warm-up may stop, given the warm-up ops so far. */
  def settled(ops: Seq[Op]): Boolean
  /** Whether a phase's ops cover what its metrics need. */
  def phaseComplete(ops: Seq[Op]): Boolean = true
  /** False once the generated inputs are used up. */
  def hasNext: Boolean = true
  /** In-program output checks, run after the timed phases. */
  def check(): Map[String, Any]
  /** Directories the workload writes its outputs to. */
  def outputRoots: Seq[String]
  /** Traced-phase per-layer metrics only this workload produces. */
  def layerMetrics(ops: Seq[Op], spans: Spans): Map[String, Double] = Map.empty
}

/** Bench-side spans around the calls into graft's layers. */
final class Spans {
  private val acc = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def time[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally add(name, (System.nanoTime() - t0) / 1e9)
  }
  def add(name: String, v: Double): Unit = acc.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def values(name: String): Seq[Double] = acc.get(name).map(_.toSeq).getOrElse(Seq.empty)
  def mean(name: String): Double = { val v = values(name); if (v.isEmpty) 0.0 else v.sum / v.size }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

object Main {
  final case class Args(workload: String, inputs: String, work: String, seconds: Double,
                        trace: Boolean, seed: Long, out: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("inputs"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("seed").toLong, m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    // two shuffle partitions per core: graft's default of 32 is sized
    // for a 32-core rig, and on a small one it turns every shuffle into
    // mostly per-task overhead (measured on 4 cores: an ingest batch
    // took 16 s at 32 partitions, 12 s at 8)
    val spark = GraftSession.builder(s"local[$cores]", shufflePartitions = 2 * cores)
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val prefix = if (args.trace) {
      spark.sparkContext.hadoopConfiguration.set(s"fs.${CountingFs.Scheme}.impl",
        classOf[CountingFs].getName)
      CountingFs.Scheme + ":"
    } else ""
    val result = new java.util.LinkedHashMap[String, Any]()
    try run(spark, args, prefix, result)
    finally {
      new ObjectMapper().writerWithDefaultPrettyPrinter()
        .writeValue(new File(args.out), toJava(result))
      spark.stop()
    }
  }

  private def run(spark: SparkSession, args: Args, prefix: String,
                  result: java.util.Map[String, Any]): Unit = {
    val wl: Workload = args.workload match {
      case "health-daily" => new HealthDaily(spark, args, prefix)
      case "events-scan" => new EventsScan(spark, args, prefix)
      case "corpus-ingest" => new CorpusIngestLoad(spark, args, prefix)
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    result.put("session_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)
    val setupStart = System.nanoTime()
    wl.setup()
    result.put("workload_setup_s", (System.nanoTime() - setupStart) / 1e9)
    val warm = mutable.ArrayBuffer[Op]()
    val warmStart = System.nanoTime()
    // warm-up stops once timings settle, or after a fixed budget so a
    // slow machine still leaves room for the timed phase
    while (wl.hasNext && !wl.settled(warm.toSeq) && (System.nanoTime() - warmStart) / 1e9 < 45)
      warm += runOp(wl, None, timeUp = false)
    result.put("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)
    result.put("warmup_ops", warm.map(opJson).asJava)

    val timed = phase(wl, args.seconds, None)
    result.put("ops", timed.map(opJson).asJava)
    result.put("retained_heap_mb", retainedHeapMb())

    if (args.trace) {
      val spans = new Spans
      val jobs = new JobTrace
      spark.sparkContext.addSparkListener(jobs)
      val fs0 = FsCounts.snapshot()
      val traced = phase(wl, args.seconds, Some(spans))
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
      val fs1 = FsCounts.snapshot()
      result.put("traced_ops", traced.map(opJson).asJava)
      result.put("per_layer", (layerMetrics(traced, jobs, fs0, fs1) ++
        Map("sources.warehouse_files" -> wl.outputRoots.map(dataFiles).sum.toDouble) ++
        wl.layerMetrics(traced, spans)).asJava)
    }
    result.put("stored_mb", wl.outputRoots.map(dirBytes).sum / 1e6)
    result.put("checks", wl.check().asJava)
  }

  private def runOp(wl: Workload, spans: Option[Spans], timeUp: Boolean): Op = {
    val t0 = System.nanoTime()
    val s = System.currentTimeMillis()
    val (kind, items, err) =
      try { val (k, n) = wl.next(spans, timeUp); (k, n, None) }
      catch { case e: Exception => ("failed", 0L, Some(e.toString.take(500))) }
    Op(kind, s, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9, items, err)
  }

  private def phase(wl: Workload, seconds: Double, spans: Option[Spans]): Seq[Op] = {
    val ops = mutable.ArrayBuffer[Op]()
    val t0 = System.nanoTime()
    def timeUp = (System.nanoTime() - t0) / 1e9 >= seconds
    while (wl.hasNext && (ops.isEmpty || !timeUp || !wl.phaseComplete(ops.toSeq)))
      ops += runOp(wl, spans, timeUp)
    ops.toSeq
  }

  /** Heap in use once forced collections stop freeing memory: Spark's
    * ContextCleaner drops unpersisted blocks only after a collection
    * has cleared their references, so one GC leaves a timing-dependent
    * amount behind. */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / 1e6 }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (rounds < 10 && math.abs(prev - cur) > 0.005 * cur) {
      prev = cur; cur = collect(); rounds += 1
    }
    cur
  }

  private def localPath(p: String): String = p.stripPrefix(CountingFs.Scheme + ":")

  def dirBytes(root: String): Long = {
    val p = Paths.get(localPath(root))
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  /** Data files (not markers or checksums) under a root. */
  def dataFiles(root: String): Long = {
    val p = Paths.get(localPath(root))
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    }.toLong
  }

  private val Modules = Seq("sources", "operators", "streaming", "plans", "graft", "bench",
    "unattributed")

  private def layerMetrics(ops: Seq[Op], jt: JobTrace, fs0: Map[String, Long],
                           fs1: Map[String, Long]): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    val gapS = ops.map(o => o.seconds - jt.busyMs(o.startMs, o.endMs) / 1e3).map(math.max(_, 0.0))
    val byModule = jt.jobs.groupBy(_.module).map { case (m, js) => m -> js.size }
    val t = jt.totals
    Map(
      "spark.jobs_per_op" -> jt.jobs.size / n,
      "spark.tasks_per_op" -> t.tasks / n,
      "spark.driver_gap_s_per_op" -> gapS.sum / n,
      "spark.task_cpu_s_per_op" -> t.cpuNs / 1e9 / n,
      "spark.gc_s_per_op" -> t.gcMs / 1e3 / n,
      "spark.shuffle_write_mb_per_op" -> t.shuffleWrite / 1e6 / n,
      "spark.shuffle_read_mb_per_op" -> t.shuffleRead / 1e6 / n,
      "spark.spill_mb_per_op" -> t.spill / 1e6 / n) ++
      Modules.flatMap { m =>
        Seq(s"$m.jobs_per_op" -> byModule.getOrElse(m, 0) / n,
          s"$m.task_s_per_op" -> jt.taskMsByModule(m) / 1e3 / n)
      } ++
      FsCounts.names.map(k => s"fs.${k}_per_op" -> (fs1(k) - fs0(k)) / n)
  }

  private def opJson(o: Op): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("kind", o.kind); m.put("seconds", o.seconds); m.put("items", o.items)
    o.error.foreach(m.put("error", _))
    m
  }

  private def toJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.asScala.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case m: scala.collection.Map[_, _] => toJava(m.asJava)
    case s: Seq[_] => s.map(toJava).asJava
    case other => other
  }
}
