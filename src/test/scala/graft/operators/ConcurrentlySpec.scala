package graft.operators

import java.util.concurrent.ExecutionException
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** The driver-side overlap helper: every task is joined before a
  * failure surfaces, the failure is the task's own exception with the
  * later ones suppressed on it, and a background task never masks the
  * caller's. */
class ConcurrentlySpec extends AnyFunSuite {

  test("results come back in task order") {
    assert(Concurrently.all(Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
    assert(Concurrently.both("a", 2L) == (("a", 2L)))
    assert(Concurrently.all(Seq.empty[() => Int]).isEmpty)
  }

  test("every task is joined before a failure is thrown") {
    val finished = new AtomicBoolean(false)
    intercept[IllegalStateException] {
      Concurrently.all(Seq(
        () => throw new IllegalStateException("fast"),
        () => { Thread.sleep(300); finished.set(true) }))
    }
    assert(finished.get, "threw before the slow task was joined")
  }

  test("the first failure is thrown as itself, later ones suppressed on it") {
    val e = intercept[Throwable] {
      Concurrently.all(Seq(
        () => (),
        () => { Thread.sleep(200); throw new IllegalStateException("first") },
        () => throw new IllegalArgumentException("second")))
    }
    assert(!e.isInstanceOf[ExecutionException])
    assert(e.isInstanceOf[IllegalStateException] && e.getMessage == "first")
    assert(e.getSuppressed.toSeq.map(_.getMessage) == Seq("second"))
  }

  test("a background failure never masks the caller's") {
    val both = intercept[Throwable] {
      Concurrently.both(
        throw new IllegalArgumentException("caller"),
        throw new IllegalStateException("background"))
    }
    assert(both.isInstanceOf[IllegalArgumentException] && both.getMessage == "caller")
    assert(both.getSuppressed.toSeq.map(_.getMessage) == Seq("background"))
    // alone, the background failure still surfaces as its own type
    val bg = intercept[Throwable] {
      Concurrently.both(1, throw new IllegalStateException("background"))
    }
    assert(bg.isInstanceOf[IllegalStateException] && bg.getMessage == "background")
  }
}
