package graft.analytics

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** [[Par.run]]'s wait-for-every-task contract under an interrupt of the
  * calling thread: returning early would let [[IndexLock.withLock]] release
  * the index lock while a sibling write is still running. */
class ParSpec extends AnyFunSuite {

  test("an interrupted caller waits for every sibling task before rethrowing") {
    val started = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    val siblingDone = new AtomicBoolean(false)
    @volatile var thrown: Option[Throwable] = None
    @volatile var siblingDoneAtReturn = false
    @volatile var flagRestored = false
    val caller = new Thread(() => {
      try Par.run(
        () => { started.countDown(); release.await(); siblingDone.set(true) },
        () => started.countDown())
      catch { case t: Throwable => thrown = Some(t) }
      siblingDoneAtReturn = siblingDone.get()
      flagRestored = Thread.currentThread().isInterrupted
    })
    caller.start()
    assert(started.await(10, TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(500)
    assert(caller.isAlive, "Par.run must not return while a sibling task still runs")
    release.countDown()
    caller.join(10000)
    assert(!caller.isAlive)
    assert(siblingDoneAtReturn, "the sibling must have finished before Par.run returned")
    assert(thrown.exists(_.isInstanceOf[InterruptedException]), s"got $thrown")
    assert(flagRestored, "the caller's interrupt flag must be restored")
  }
}
