package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the forked JVM's options from build.sbt `javaOptions`, which
  * the tests, `sbt run` and the benchmark harness all launch with. */
class JvmOptionsSpec extends AnyFunSuite {
  test("MLlib's Java BLAS is netlib's Vector API implementation") {
    // VectorBLAS loads only with --add-modules=jdk.incubator.vector;
    // otherwise netlib falls back to its scalar Java BLAS
    val impl = dev.ludovic.netlib.blas.JavaBLAS.getInstance.getClass.getName
    assert(impl == "dev.ludovic.netlib.blas.VectorBLAS", s"JavaBLAS is $impl")
  }
}
