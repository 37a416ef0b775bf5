package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The small-graph fast paths' one driver-replay helper: the byte
  * budget is exact at its edge, a null id never reads as node 0, an
  * empty frame is a result and not an error, and a collect costs the
  * count plus one packing job. */
class DriverGraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(n: Int) = (1L to n.toLong).map(i => (i, i * 10L)).toDF("a", "b")

  test("a frame of exactly the budget's rows fits; one more row does not") {
    val rowBytes = DriverGraph.BudgetBytes / 4
    val got = DriverGraph.collect(rows(4), rowBytes)
    assert(got.map(_.map(_.toSeq).toSeq) == Some(Seq(1L to 4L, 10L to 40L by 10L)))
    assert(DriverGraph.collect(rows(5), rowBytes).isEmpty)
    // the kernels' smallGraphMax seam caps rows below the budget
    assert(DriverGraph.collect(rows(4), 1L, maxRows = 3L).isEmpty)
  }

  test("a null id throws, naming its column") {
    val df = Seq((1L, Option(2L)), (3L, Option.empty[Long])).toDF("src", "dst_id")
    val ex = intercept[IllegalArgumentException](DriverGraph.collect(df, 1L))
    assert(ex.getMessage.contains("dst_id"), ex.getMessage)
  }

  test("an empty frame gives empty arrays") {
    val got = DriverGraph.collect(rows(0), 1L)
    assert(got.exists(cs => cs.length == 2 && cs.forall(_.isEmpty)))
  }

  test("a collect costs at most two Spark jobs") {
    val sc = spark.sparkContext
    // count only THIS thread's jobs (suites run in parallel): job-group
    // ids are thread-local and ride the job-start event's properties
    val group = s"driver-graph-${System.nanoTime()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "DriverGraph.collect")
      // several partitions, no shuffle: a kernel's frame is persisted
      // or checkpointed before its collect, so no upstream stage reruns
      assert(DriverGraph.collect(rows(64), 1L).exists(_(0).length == 64))
      // the listener bus is asynchronous but ordered: once the marker
      // job's start arrives, every earlier job's start has
      sc.setJobGroup(marker, "listener-bus marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "marker job never reached the listener")
      val jobs = seen.asScala.count(_ == group)
      assert(jobs >= 1 && jobs <= 2, s"collect ran $jobs jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
