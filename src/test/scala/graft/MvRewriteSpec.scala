package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.MvCatalog

/** Contract tests for the materialized-view rewrite
  * ([[graft.plans.MvRewrite]]): EXACT-or-absent. Every "fires" case
  * value-compares the MV answer against the direct base-table
  * aggregate; every "absent" case pins that the base scan survives in
  * the optimized plan (a wrong rewrite of an unmappable shape would be
  * an approximate answer sold as exact — the one failure mode the rule
  * must never have).
  */
class MvRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def orders = spark.read.parquet(s"$sf/orders.parquet")

  private def scansBase(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[LogicalRelation])

  // the view the running test registered, and how to register it again
  private var view: MvCatalog.MvDef = _
  private var registerView: () => MvCatalog.MvDef = _

  /** Run `body` with the view `register` builds registered — the
    * session's installed rule is on exactly while a view is. */
  private def withView[A](register: => MvCatalog.MvDef)(body: => A): A = {
    registerView = () => register
    view = registerView()
    try body
    finally {
      MvCatalog.unregister(view)
      graft.core.QueryCaches.release()
    }
  }

  private def withMv[A](body: => A): A =
    withView(MvCatalog.register("t_orders_mv", orders,
      keys = Seq(col("o_orderstatus"), col("o_orderpriority")),
      measures = Seq(col("o_totalprice").cast(DecimalType(38, 6)), col("o_totalprice"))))(body)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertRewrittenAndEqual(build: => DataFrame): Unit = {
    val on = build
    assert(!scansBase(on), s"rewrite should fire:\n${on.queryExecution.optimizedPlan}")
    val onRows = sortedRows(on)
    // control run: the same query planned with the view unregistered
    MvCatalog.unregister(view)
    val off = build
    assert(scansBase(off), "control run must scan the base table")
    val offRows = sortedRows(off)
    view = registerView()
    assert(onRows == offRows, s"MV answer diverged:\nMV : $onRows\nRAW: $offRows")
  }

  test("fires on the view's own shape and matches the direct aggregate") {
    withMv {
      assertRewrittenAndEqual {
        orders.groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double").as("rev"),
            min(col("o_totalprice")).as("lo"),
            max(col("o_totalprice")).as("hi"))
      }
    }
  }

  test("fires on key-subset grouping, key filters, and expressions over keys") {
    withMv {
      assertRewrittenAndEqual {
        orders.filter(col("o_orderpriority") =!= "1-URGENT")
          .groupBy(substring(col("o_orderstatus"), 1, 1).as("s1"))
          .agg(count(lit(1)).as("n"), max(col("o_totalprice")).as("hi"))
      }
    }
  }

  test("fires on a global (no-grouping) aggregate; COUNT stays 0 on empty filter") {
    withMv {
      assertRewrittenAndEqual {
        orders.groupBy()
          .agg(count(lit(1)).as("n"), min(col("o_totalprice")).as("lo"))
      }
      // a key filter matching nothing: Sum over zero MV rows is NULL,
      // the Coalesce in the rewrite must restore COUNT's 0 contract
      val empty = orders.filter(col("o_orderstatus") === "NO_SUCH")
        .groupBy().agg(count(lit(1)).as("n"))
      assert(!scansBase(empty))
      assert(empty.collect().map(_.getLong(0)).toSeq == Seq(0L))
    }
  }

  test("stays absent on unmappable shapes (non-key filter, avg, distinct, non-measure)") {
    withMv {
      // filter on a non-key column
      assert(scansBase(orders.filter(col("o_custkey") > 100)
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))))
      // aggregate the rule has no partials for
      assert(scansBase(orders.groupBy(col("o_orderstatus"))
        .agg(avg(col("o_totalprice")).as("a"))))
      // DISTINCT aggregates never roll up from per-key partials
      assert(scansBase(orders.groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("d"))))
      // SUM of a column that is not a registered measure
      assert(scansBase(orders.groupBy(col("o_orderstatus"))
        .agg(sum(col("o_custkey")).as("s"))))
      // grouping by a non-key column
      assert(scansBase(orders.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"))))
    }
  }

  test("fires on a SQL-spelled aggregate (the rule is plan-level, not API-level)") {
    withMv {
      assertRewrittenAndEqual {
        spark.sql(
          s"""SELECT o_orderstatus AS st, COUNT(*) AS n, MIN(o_totalprice) AS lo
             |FROM parquet.`$sf/orders.parquet`
             |WHERE o_orderpriority <> '2-HIGH'
             |GROUP BY 1""".stripMargin)
      }
    }
  }

  test("join view: fires on either orientation, absent on a different condition") {
    val customer = spark.read.parquet(s"$sf/customer.parquet")
    withView(MvCatalog.registerJoin("t_orders_cust_mv", orders, customer,
      col("o_custkey") === col("c_custkey"),
      keys = Seq(col("c_nationkey"), col("o_orderstatus")),
      measures = Seq(col("o_totalprice").cast(DecimalType(38, 6))))) {
      def q(fact: DataFrame, dim: DataFrame) =
        fact.join(dim, col("o_custkey") === col("c_custkey"))
          .filter(col("o_orderstatus") === "F")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double").as("rev"))
      assertRewrittenAndEqual(q(orders, customer))
      // swapped orientation: customer JOIN orders
      val swapped = customer.join(orders, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      assert(!scansBase(swapped), s"swapped orientation should fire:\n" +
        swapped.queryExecution.optimizedPlan)
      // a different join condition is a different view
      val wrongCond = orders.join(customer, col("o_orderkey") === col("c_custkey"))
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      assert(scansBase(wrongCond))
      // non-key filter on the dim side
      val nonKey = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .filter(col("c_acctbal") > 0)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      assert(scansBase(nonKey))
    }
  }

  test("two threads' views over one table: each thread's queries find its own view") {
    withMv {
      val mine = view
      @volatile var theirs: Option[MvCatalog.MvDef] = None
      @volatile var foundThere: Option[MvCatalog.MvDef] = None
      val other = new Thread(() => {
        val v = MvCatalog.register("t_orders_mv_2", orders,
          keys = Seq(col("o_orderstatus")), measures = Seq(col("o_totalprice")))
        theirs = Some(v)
        foundThere = MvCatalog.find(v.src)
        MvCatalog.unregister(v)
        graft.core.QueryCaches.release()
      })
      other.start()
      other.join()
      assert(theirs.isDefined && theirs.get.src == mine.src)
      assert(foundThere.exists(_ eq theirs.get), "the registering thread must find its own view")
      assert(MvCatalog.find(mine.src).exists(_ eq mine), "unregister must leave the other view")
    }
  }

  test("different base table (lineitem) is untouched even with a view registered") {
    withMv {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      assert(scansBase(li))
    }
  }
}
