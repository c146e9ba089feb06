package graft

import graft.core.Jobs
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Failure semantics of the driver-side job overlap: a caller that sees
  * the exception must be able to reuse its staging paths at once.
  */
class JobsSpec extends AnyFunSuite {

  test("inParallel: a failure awaits running siblings and rethrows the original exception") {
    val started = new AtomicBoolean(false)
    val finished = new AtomicBoolean(false)
    val siblingUp = new CountDownLatch(1)
    val boom = new IllegalStateException("boom")
    val e = intercept[IllegalStateException] {
      Jobs.inParallel(Seq(
        () => { siblingUp.await(5, TimeUnit.SECONDS); throw boom },
        () => {
          started.set(true)
          siblingUp.countDown()
          Thread.sleep(300)
          finished.set(true)
        }))
    }
    assert(e eq boom, "the failing thunk's own exception is rethrown")
    assert(!started.get || finished.get,
      "a sibling that started must have finished before inParallel throws")
  }
}
