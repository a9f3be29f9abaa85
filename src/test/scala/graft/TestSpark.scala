package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole ScalaTest run (the
  * deterministic "sync backend" oracle mode of SURVEY.md §1.4).
  * local[16]: every correctness assertion here is
  * parallelism-independent (multiset compares, explicit repartitions),
  * and the 10M-doc scale smoke needs real cores — 4 threads left a
  * 32-core box 87% idle. */
object TestSpark {
  lazy val spark: SparkSession = Harness.session(16)
}
