package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Harness.Knobs]] over injected env maps: defaults when unset, and a
  * malformed value fails with a message naming the variable and the
  * value. */
class HarnessSpec extends AnyFunSuite {
  import Harness.Knobs

  test("unset knobs take their defaults") {
    assert(Knobs.parse(Map.empty) == Knobs(cpus = 4, benchScale = None, reps = 3, only = None))
  }

  test("well-formed knobs parse, whitespace tolerated") {
    val k = Knobs.parse(Map("SPARK_GRAFT_CPUS" -> " 8", "SPARK_GRAFT_BENCH_SCALE" -> "2",
      "SPARK_GRAFT_REPS" -> "5", "SPARK_GRAFT_ONLY" -> "q1_pricing, op_map,"))
    assert(k == Knobs(8, Some(2), 5, Some(Set("q1_pricing", "op_map"))))
  }

  test("a malformed value fails naming the variable and the value") {
    for ((name, bad) <- Seq("SPARK_GRAFT_CPUS" -> "eight", "SPARK_GRAFT_CPUS" -> "0",
        "SPARK_GRAFT_BENCH_SCALE" -> "2x", "SPARK_GRAFT_REPS" -> "-1",
        "SPARK_GRAFT_ONLY" -> " , ")) {
      val e = intercept[IllegalArgumentException](Knobs.parse(Map(name -> bad)))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
