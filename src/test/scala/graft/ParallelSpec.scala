package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

class ParallelSpec extends SparkSpec {
  import ParallelSpec._

  private def helperThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.isAlive).map(_.getName)
      .filter(_.startsWith("graft-parallel-")).toSet

  test("results come back in order; bodies inherit the caller's local properties") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.spec.owner", "caller")
    try {
      val got = Parallel.all(sc, (1 to 3).map(i => () =>
        (sc.parallelize(1 to 10, 2).map(_ * i).sum().toLong,
          sc.getLocalProperty("graft.spec.owner"))))
      assert(got == (1 to 3).map(i => (55L * i, "caller")))
      val (a, b) = Parallel.both(sc)("x", 2)
      assert(a == "x" && b == 2)
    } finally sc.setLocalProperty("graft.spec.owner", null)
    assert(helperThreads.isEmpty)
  }

  test("a failing body cancels the other's running job, rethrows its error, leaves no thread") {
    val sc = spark.sparkContext
    sleeping.set(0); interrupted.set(0)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](Parallel.both(sc)(
      // two tasks that would sleep for two minutes
      sc.parallelize(1 to 2, 2).map { x =>
        sleeping.incrementAndGet()
        try Thread.sleep(120000L)
        catch { case _: InterruptedException => interrupted.incrementAndGet() }
        x
      }.count(),
      {
        while (sleeping.get < 2) Thread.sleep(10L)
        throw new IllegalStateException("grid point failed")
      }))
    assert(e.getMessage == "grid point failed")
    assert((System.nanoTime() - t0) / 1e9 < 60.0)
    assert(helperThreads.isEmpty)
    // the sleeping tasks were interrupted, not left to run on
    val deadline = System.nanoTime() + 30e9.toLong
    while (interrupted.get < 2 && System.nanoTime() < deadline) Thread.sleep(10L)
    assert(interrupted.get == 2)
  }

  test("a body that starts another job after the first cancel is cancelled again") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    intercept[IllegalStateException](Parallel.both(sc)(
      // a hundred short jobs in a row: 20 s if left to run
      (1 to 100).foreach(_ => sc.parallelize(1 to 1, 1).map { x => Thread.sleep(200L); x }.count()),
      throw new IllegalStateException("first")))
    assert((System.nanoTime() - t0) / 1e9 < 10.0)
    assert(helperThreads.isEmpty)
  }
}

object ParallelSpec {
  // tasks run in this JVM (local master): the counters are shared with them
  val sleeping = new AtomicInteger
  val interrupted = new AtomicInteger
}
