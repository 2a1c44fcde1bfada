package graft.ops

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

/** Independent job chains run side by side — one thread per leg, so
  * one leg's stragglers back-fill with another leg's tasks.
  *
  * The threads belong to a pool made for the call and are created
  * from the caller's thread, so every leg's jobs carry the caller's
  * Spark local properties (job group, scheduler pool). Results come
  * back in argument order whatever order the legs finish in; the
  * first leg to FAIL rethrows at once (its original exception) and
  * the other legs are interrupted, instead of waiting for the legs
  * listed before it. */
object Legs {
  def apply[A](legs: (() => A)*): Seq[A] = {
    val pool = Executors.newFixedThreadPool(legs.size, daemon)
    try {
      val done = new ExecutorCompletionService[A](pool)
      val futures = legs.map(leg => done.submit(() => leg()))
      legs.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
      futures.map(_.get())
    } finally pool.shutdownNow()
  }

  private val seq = new AtomicInteger()
  private val daemon: ThreadFactory = r => {
    val t = new Thread(r, s"graft-leg-${seq.incrementAndGet()}")
    t.setDaemon(true)
    t
  }
}
