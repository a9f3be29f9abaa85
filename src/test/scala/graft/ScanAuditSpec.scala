package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Scan-surface contracts — predicate pushdown and column pruning must
  * actually REACH the parquet scans: at 100 TB a filter evaluated
  * post-scan or a fat column read for a 2-column projection is the
  * difference between touching gigabytes and touching the lake. These
  * pins read the formatted plan's `PushedFilters:` / `ReadSchema:`
  * scan details for queries whose shapes make the expectation
  * unambiguous, plus a fleet-wide rule: NO declared query may scan the
  * 16-column lineitem with an unpruned schema.
  */
class ScanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Harness.run(spark, name, sf)(_.queryExecution.explainString(FormattedMode))

  private def scanDetails(p: String, key: String): Seq[String] =
    p.linesIterator.filter(_.trim.startsWith(key)).map(_.trim).toSeq

  test("q6_forecast: every range predicate reaches the lineitem scan; 4-column ReadSchema") {
    val p = plan("q6_forecast")
    val pushed = scanDetails(p, "PushedFilters:").mkString
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
      "LessThan(l_quantity").foreach { f =>
      assert(pushed.contains(f), s"filter $f not pushed:\n$pushed")
    }
    val schema = scanDetails(p, "ReadSchema:").mkString
    assert(!schema.contains("l_returnflag") && !schema.contains("l_orderkey"),
      s"q6 needs 4 columns, the scan must not read others:\n$schema")
  }

  test("q19_disjunctive: the OR-of-ANDs predicate pushes to the scan (not post-scan only)") {
    val p = plan("q19_disjunctive")
    val pushed = scanDetails(p, "PushedFilters:").mkString
    assert(pushed.contains("Or("),
      s"the disjunction must reach the parquet reader:\n$pushed")
  }

  test("q3_top_revenue: dimension filters push into their own scans") {
    val p = plan("q3_top_revenue")
    val pushed = scanDetails(p, "PushedFilters:").mkString
    assert(pushed.contains("EqualTo(c_mktsegment"),
      s"segment filter must reach the customer scan:\n$pushed")
  }

  test("fleet rule: no declared query scans lineitem with an unpruned 11-column schema") {
    // ReadSchema listing all 11 lineitem columns means column pruning
    // failed — every query uses a subset. Allow none.
    val all16 = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    // Same rule for the events table's fat column: `props` is a JSON
    // blob only the semi-structured extraction row consumes — any
    // other query reading it pays blob I/O for nothing.
    val propsAllowed = Set("events_props")
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = try plan(name) catch { case _: Throwable => "" }
      val schemas = scanDetails(p, "ReadSchema:")
      schemas.foreach { s =>
        assert(!all16.forall(s.contains),
          s"$name reads an unpruned lineitem schema:\n$s")
        assert(!s.contains("props") || propsAllowed(name),
          s"$name reads the events JSON blob column it never uses:\n$s")
      }
    }
  }
}
