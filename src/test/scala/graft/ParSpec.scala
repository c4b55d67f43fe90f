package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Par

/** `Par`, the driver-side job-overlap pool: failures surface at `await`,
  * and every submitted task gets a thread (no queueing behind a fixed
  * worker count). */
class ParSpec extends AnyFunSuite {

  test("a throwing thunk rethrows its cause from await") {
    val boom = new IllegalStateException("boom")
    val f = Par.async[Int](throw boom)
    val e = intercept[IllegalStateException](Par.await(f, "throwing thunk"))
    assert(e eq boom)
  }

  test("5 thunks that each wait for all 5 to start finish together") {
    val started = new CountDownLatch(5)
    // each thunk waits a bounded time, so a pool that queues one task
    // behind the other four fails this case instead of hanging the suite
    val fs = (0 until 5).map { _ =>
      Par.async {
        started.countDown()
        started.await(10, TimeUnit.SECONDS)
      }
    }
    assert(fs.zipWithIndex.map { case (f, i) => Par.await(f, s"thunk $i") }
      .forall(identity))
  }
}
