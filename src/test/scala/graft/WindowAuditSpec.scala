package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Fleet-wide guard against the quiet scale-killer: a global window
  * (`Window` over `Exchange(SinglePartition)`) whose input is NOT
  * pre-trimmed by a partial top-k. Every declared query's physical
  * plan is parsed; a Window whose child chain reaches a
  * single-partition exchange is only acceptable when the node feeding
  * that exchange is a `WindowGroupLimit` (rank-filter partial top-k)
  * or `TakeOrderedAndProject` (limit+sort partial top-k) — each map
  * task then forwards a bounded prefix, so the single task merges
  * tasks×K rows, not the relation. Anything else must be on the
  * explicit allowlist below with a domain-boundedness argument.
  *
  * This is the round-8b lesson (a cast between `row_number` and its
  * rank filter silently defeats `InsertWindowGroupLimit`) promoted
  * from per-query PlanSpec pins to a permanent inventory-wide audit:
  * both round-11 weak findings (q_join_card_est, events_funnel_latency)
  * would have been caught here.
  */
class WindowAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Queries allowed to keep an un-trimmed global window, each with
    * the boundedness argument. The relation under the window must be
    * DOMAIN-bounded (types × days, bounded sketch rows, a ≤K-row
    * derived relation) — never users-, docs-, or events-scale. */
  private val allowlist: Map[String, String] = Map(
    "curate_data_card" -> ("window ranks the (lang, source) grid — " +
      "bounded by the language × source domains, not by docs"),
    "events_survival" -> ("risk-set window runs over one row per life " +
      "HOUR (≤ observation span), the Kaplan-Meier time axis — " +
      "calendar-bounded, documented at the query"),
    "q_binpack" -> ("cumsum bin assignment orders one row per MONTH " +
      "(the file-compaction unit) — calendar-bounded"),
    "q_monthly_growth" -> ("lag window over one row per MONTH — " +
      "calendar-bounded"),
    "q_skyline" -> ("frontier window over one row per distinct p_size " +
      "(TPC-H domain 1..50) — domain-bounded"),
    "events_quantile_sketch" -> ("cumsum walks the log-bucket histogram " +
      "— ≤ 8·64 rows by the sketch's own construction regardless of " +
      "data; the gap multiset itself goes through globalRank, never " +
      "a window"))

  /** One tree occurrence: node name, id, and indent column. */
  private case class N(name: String, id: Int, col: Int)

  private val nodeRe = """([A-Za-z][A-Za-z0-9]*) \((\d+)\)""".r

  /** Nodes that merely reshape/pass rows between a Window and the
    * exchange that feeds it (or between an exchange and its bounding
    * producer) without changing cardinality class. */
  private val passThrough = Set(
    "Sort", "Project", "Filter", "ColumnarToRow", "InputAdapter",
    "ShuffleQueryStage", "AQEShuffleRead", "ResultQueryStage",
    "InMemoryTableScan", "InMemoryRelation", "AdaptiveSparkPlan",
    "WholeStageCodegen")

  /** ids of Exchange nodes whose detail section says SinglePartition. */
  private def singlePartitionExchanges(p: String): Set[Int] = {
    val it = p.linesIterator.toArray
    val ids = scala.collection.mutable.Set.empty[Int]
    var i = 0
    val head = """^\((\d+)\) Exchange\b""".r
    while (i < it.length) {
      head.findFirstMatchIn(it(i)).foreach { m =>
        // the Arguments line follows within the next few detail lines
        var j = i + 1
        while (j < it.length && j < i + 5 && !it(j).startsWith("Arguments:")) j += 1
        if (j < it.length && it(j).startsWith("Arguments: SinglePartition"))
          ids += m.group(1).toInt
      }
      i += 1
    }
    ids.toSet
  }

  /** Parse every tree line into (node, lineIdx); the tree section is
    * any line whose node token is preceded by tree furniture, detail
    * headers (`(7) Window`) start at column 0 and are excluded. */
  private def treeNodes(p: String): Vector[N] = {
    p.linesIterator.zipWithIndex.flatMap { case (line, _) =>
      nodeRe.findFirstMatchIn(line).flatMap { m =>
        if (m.start == 0 && line.startsWith("(")) None // detail header
        else Some(N(m.group(1), m.group(2).toInt, m.start))
      }
    }.toVector
  }

  /** Walk the child spine of node at `idx`: the immediate child is the
    * next line with a strictly greater indent; stop when leaving the
    * subtree. Returns the chain of nodes below (first-child path). */
  private def spine(nodes: Vector[N], idx: Int): Iterator[N] = {
    val base = nodes(idx).col
    var cur = base
    nodes.iterator.drop(idx + 1).takeWhile(_.col > base).filter { n =>
      if (n.col > cur) { cur = n.col; true } else false
    }
  }

  /** Audit one plan string; returns human-readable violations. */
  private def violations(name: String, p: String): Seq[String] = {
    val sp = singlePartitionExchanges(p)
    val nodes = treeNodes(p)
    nodes.zipWithIndex.collect { case (N("Window", wid, _), i) =>
      // descend through pass-through nodes to the first structural node
      val chain = spine(nodes, i).filterNot(n => passThrough(n.name)).toVector
      chain.headOption match {
        case Some(N("Exchange", eid, _)) if sp(eid) =>
          // bounded iff the next structural node below the exchange
          // pre-trims to a per-task constant
          chain.lift(1).map(_.name) match {
            case Some("WindowGroupLimit") | Some("TakeOrderedAndProject") => None
            case below =>
              Some(s"$name: Window($wid) over SinglePartition Exchange($eid) " +
                s"fed by ${below.getOrElse("<leaf>")} — untrimmed global sort")
          }
        case _ => None
      }
    }.flatten
  }

  test("no declared query hides an untrimmed single-partition global window") {
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = Harness.run(spark, name, sf)(_.queryExecution.explainString(FormattedMode))
      val v = violations(name, p)
      if (v.nonEmpty && !allowlist.contains(name)) bad ++= v
    }
    assert(bad.isEmpty, "untrimmed global windows (fix or allowlist with " +
      s"a boundedness argument):\n${bad.mkString("\n")}")
  }

  /** Queries allowed a CartesianProduct, each with the boundedness
    * argument (a BroadcastNestedLoopJoin over a 1-row/domain-bounded
    * side does NOT plan as CartesianProduct, so those never trip
    * this). */
  private val cartesianAllowlist: Map[String, String] = Map.empty

  test("no declared query plans a CartesianProduct — 1-row stitches broadcast instead") {
    // The companion guard to the window audit: an unbroadcast cross
    // join is quadratic at scale. Every deliberate 1-row count stitch
    // in the inventory goes through broadcast() and plans as
    // BroadcastNestedLoopJoin; a plain CartesianProduct means a
    // broadcast was lost (e.g. a relation grew past the hint's reach
    // or a refactor dropped the hint) and must be fixed or allowlisted
    // with a boundedness argument.
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = Harness.run(spark, name, sf)(_.queryExecution.explainString(FormattedMode))
      if (p.contains("CartesianProduct") && !cartesianAllowlist.contains(name))
        bad += name
    }
    assert(bad.isEmpty, s"CartesianProduct in: ${bad.mkString(", ")}")
  }

  test("the parser itself detects the defeated-top-k shape (self-test)") {
    // A synthetic plan with a cast-defeated rank filter: Window over a
    // SinglePartition exchange whose child is the raw scan.
    val p =
      """== Physical Plan ==
        |* Filter (5)
        |+- Window (4)
        |   +- * Sort (3)
        |      +- Exchange (2)
        |         +- * ColumnarToRow (1)
        |            +- Scan parquet (0)
        |
        |(2) Exchange
        |Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]
        |""".stripMargin
    assert(violations("synthetic", p).nonEmpty)
    // And the healthy shape — partial WindowGroupLimit below the
    // exchange — passes.
    val ok =
      """== Physical Plan ==
        |* Filter (6)
        |+- Window (5)
        |   +- * Sort (4)
        |      +- Exchange (3)
        |         +- WindowGroupLimit (2)
        |            +- * Sort (1)
        |               +- Scan parquet (0)
        |
        |(3) Exchange
        |Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]
        |""".stripMargin
    assert(violations("synthetic_ok", ok).isEmpty)
  }
}
