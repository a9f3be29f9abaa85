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

  test("SPARK_GRAFT_SF_DIR: Bench's testdata directory, sf0.1 unless set") {
    assert(Knobs.parse(Map.empty).sfDir == Knobs.DefaultSfDir)
    assert(Knobs.DefaultSfDir.endsWith("/testdata/sf0.1"))
    assert(Knobs.parse(Map("SPARK_GRAFT_SF_DIR" -> "/data/sf1")).sfDir == "/data/sf1")
  }

  test("a malformed value fails naming the variable and the value") {
    for ((name, bad) <- Seq("SPARK_GRAFT_CPUS" -> "eight", "SPARK_GRAFT_CPUS" -> "0",
        "SPARK_GRAFT_BENCH_SCALE" -> "2x", "SPARK_GRAFT_REPS" -> "-1",
        "SPARK_GRAFT_ONLY" -> " , ")) {
      val e = intercept[IllegalArgumentException](Knobs.parse(Map(name -> bad)))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("Explain and Profile fail on an unknown query name, naming it, before a session starts") {
    // Explain last: a run past its name check stops the shared session.
    for (main <- Seq[Array[String] => Unit](Profile.main, Explain.main)) {
      val e = intercept[IllegalArgumentException](main(Array("sf-dir-unread", "q_typo")))
      assert(e.getMessage.contains("q_typo"), e.getMessage)
    }
  }

  test("Profile and Verify fail with their usage line on a wrong argument count, before a session starts") {
    for ((main, args) <- Seq[(Array[String] => Unit, Array[String])](
        (Profile.main, Array()), (Profile.main, Array("sf-dir-unread")),
        (Verify.main, Array()), (Verify.main, Array("sf-dir-unread")),
        (Verify.main, Array("sf-dir-unread", "out-dir-unwritten", "extra")))) {
      val e = intercept[IllegalArgumentException](main(args))
      assert(e.getMessage.contains("usage: graft."), e.getMessage)
    }
  }
}
