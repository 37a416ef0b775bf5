package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Overlaps a few independent driver-side tasks (guide §2.6 — Spark
  * runs concurrent jobs fine; jobs issued from one driver thread queue
  * behind each other while most cores idle). The first task runs on
  * the calling thread, every other one on its own pool thread.
  *
  * Failure contract: every task is joined before anything is thrown;
  * the exception thrown is the first failing task's own (in task
  * order, never an `ExecutionException` wrapper), and every later
  * failure rides on it as suppressed. Put the caller's own work first
  * and a background failure can never mask it. */
private[operators] object Concurrently {

  def all[A](tasks: Seq[() => A]): Seq[A] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      val pool = Executors.newFixedThreadPool(tasks.size - 1)
      try {
        val rest = tasks.tail.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
        val head = try Right(tasks.head()) catch { case e: Throwable => Left(e) }
        val outcomes = head +: rest.map { f =>
          try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
        }
        outcomes.collect { case Left(e) => e } match {
          case first +: later =>
            later.filterNot(_ eq first).foreach(first.addSuppressed)
            throw first
          case _ => outcomes.collect { case Right(a) => a }
        }
      } finally pool.shutdown()
    }

  /** [[all]] over two tasks of different types; `a` is the caller's. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val r = all[Any](Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
