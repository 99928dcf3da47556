package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.SparkContext

/** Runs a few independent driver-side bodies at once and fails them as
  * one.
  *
  * Each body gets a thread created by the call, so it inherits the
  * caller's Spark local properties (job group, scheduler pool, any
  * attribution keys): its jobs count as the caller's. Each body's jobs
  * also carry a job tag of their own, and are interrupted on cancel.
  * The calling thread waits. When a body throws, the jobs of the others
  * are cancelled by tag, and cancelled again every `CancelPollMs` until
  * every body has returned: a body between two actions starts its next
  * job after the first cancel. Then the first error is rethrown. No
  * thread outlives the call.
  *
  * There is no timeout: a body that neither fails nor ends is waited
  * for, as the sequential code this replaces would have.
  */
object Parallel {
  private val calls = new AtomicLong
  private val CancelPollMs = 50L

  /** Every body's result, in order; or the first error thrown. */
  def all[A](sc: SparkContext, bodies: Seq[() => A]): Seq[A] = {
    val id = s"graft-parallel-${calls.incrementAndGet()}"
    val tags = bodies.indices.map(i => s"$id-$i")
    val results = new Array[Any](bodies.size)
    val error = new AtomicReference[Throwable]
    val ended = new LinkedBlockingQueue[Integer]
    val threads = bodies.indices.map { i =>
      new Thread(() => {
        sc.addJobTag(tags(i))
        sc.setInterruptOnCancel(true)
        try results(i) = bodies(i)()
        catch { case e: Throwable => error.compareAndSet(null, e) }
        finally ended.put(i)
      }, tags(i))
    }
    var left = 0
    threads.foreach { t =>
      try { t.start(); left += 1 } catch { case e: Throwable => error.compareAndSet(null, e) }
    }
    while (left > 0) {
      val next =
        try {
          if (error.get == null) ended.take()
          else {
            tags.foreach(sc.cancelJobsWithTag)
            ended.poll(CancelPollMs, TimeUnit.MILLISECONDS)
          }
        } catch { case e: InterruptedException => error.compareAndSet(null, e); null }
      if (next != null) left -= 1
    }
    threads.foreach(_.join())
    Option(error.get).foreach(e => throw e)
    results.toSeq.asInstanceOf[Seq[A]]
  }

  /** Two bodies of different result types. */
  def both[A, B](sc: SparkContext)(a: => A, b: => B): (A, B) = {
    val r = all[Any](sc, Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
