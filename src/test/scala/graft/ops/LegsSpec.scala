package graft.ops

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

class LegsSpec extends AnyFunSuite {
  test("results come back in argument order, not completion order") {
    val out = Legs(
      () => { Thread.sleep(300); "slow" },
      () => "fast",
      () => { Thread.sleep(100); "middle" })
    assert(out === Seq("slow", "fast", "middle"))
  }

  test("a failing leg surfaces at once, before an earlier leg finishes") {
    val release = new CountDownLatch(1)
    val finished = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException](Legs(
        () => { release.await(30, TimeUnit.SECONDS); finished.set(true); 1 },
        () => throw new IllegalStateException("second leg failed")))
      val waited = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage === "second leg failed")
      assert(!finished.get, "the error waited for the first leg")
      assert(waited < 10, s"the error surfaced after $waited s")
    } finally release.countDown()
  }
}
