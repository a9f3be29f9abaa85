package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** The declared query inventory (SURVEY.md §2 parity surface plus the
  * extension suites). Each suite declares its queries once, as a
  * `Seq[QueryDef]` of name, builder and DuckDB oracle; `all` is their
  * concatenation, and `queries` and `oracleSql` are views of it. A name
  * declared twice fails initialisation, naming the name.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Pricing(spark, "/root/testdata/sf0.001")

  val all: Seq[QueryDef] = unique(
    ParityOps.queries ++ Relational.queries ++ TextQueries.queries ++
      DedupQueries.queries ++ SimQueries.queries ++ EventQueries.queries ++
      MultimodalQueries.queries ++ GeoQueries.queries)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(d => d.name -> d.build).toMap

  val oracleSql: Map[String, String] = all.map(d => d.name -> d.oracle).toMap

  /** `defs` unchanged, or an IllegalArgumentException naming every name
    * declared more than once. */
  private[graft] def unique(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    defs
  }
}
