package graft

import org.scalatest.funsuite.AnyFunSuite

/** The core count every main's session runs on, resolved from the env
  * map alone (no session is built). */
class LocalSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS unset: the cores the JVM sees") {
    assert(LocalSession.cpus(Map.empty) == Runtime.getRuntime.availableProcessors)
  }

  test("SPARK_GRAFT_CPUS set: that count") {
    assert(LocalSession.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
  }
}
