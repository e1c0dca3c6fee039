package graft

import org.scalatest.funsuite.AnyFunSuite

/** The core-count rule every entry point sizes its session by; no
  * SparkSession needed. */
class LocalSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS wins when it is set") {
    assert(LocalSession.cores(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
  }

  test("the host's processor count is the fallback") {
    assert(LocalSession.cores(Map.empty) == Runtime.getRuntime.availableProcessors())
  }

  test("a value that is not a positive integer is rejected, naming the variable") {
    for (v <- Seq("0", "-2", "abc")) {
      val e = intercept[IllegalArgumentException](LocalSession.cores(Map("SPARK_GRAFT_CPUS" -> v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(v), e.getMessage)
    }
  }
}
