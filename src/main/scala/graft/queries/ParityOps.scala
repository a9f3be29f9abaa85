package graft.queries

import graft.core.{Element, GraftStage}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's 9-operator surface (SURVEY.md §2), each exercised
  * end-to-end through the [[graft.core.GraftStage]] DSL over the
  * driver's parquet tables, with a DuckDB-expressible oracle.
  * Operator → reference cite:
  *   map        pypeln/process/api/map.py:19-27
  *   flat_map   pypeln/process/api/flat_map.py:19-28
  *   filter     pypeln/process/api/filter.py:19-27
  *   each/run   pypeln/process/api/each.py:19-26, run.py:15-43
  *   concat     pypeln/process/api/concat.py:14-55
  *   ordered    pypeln/process/api/ordered.py:12-20
  *   from_iterable / to_iterable  pypeln/process/api/from_iterable.py:11-77
  */
object ParityOps {

  final case class LineSlim(l_orderkey: Long, l_linenumber: Int, l_quantity: Double,
                            l_extendedprice: Double, l_discount: Double, l_returnflag: String)
  final case class MapOut(l_orderkey: Long, l_linenumber: Int, revenue: Double)
  final case class FilterOut(l_orderkey: Long, l_linenumber: Int, l_quantity: Double)
  final case class DocSlim(doc_id: Long, text: String)
  final case class TokenOut(doc_id: Long, pos: Long, token: String)
  final case class TagOut(l_orderkey: Long, l_linenumber: Int, tag: String)
  final case class OrdOut(ord: Long, doc_id: Long)
  final case class PipeOut(idx: Long, value: Long)

  private def lineSlim(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    Tables.load(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice",
        $"l_discount", $"l_returnflag").as[LineSlim]
  }

  /** map: 1→1 revenue projection through the DSL. Rides the plain
    * (Tungsten) plan — no indexing job, column pruning intact. */
  def opMap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    GraftStage.fromDataset(lineSlim(spark, sfDir))
      .map(r => MapOut(r.l_orderkey, r.l_linenumber, r.l_extendedprice * (1 - r.l_discount)))
      .toDF
  }

  /** filter: Catalyst-expressible predicate via `filterCol` — reaches
    * the parquet scan as a PushedFilter on the plain plan (the opaque
    * lambda `filter` variant is covered by ScalaTest). */
  def opFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    GraftStage.fromDataset(lineSlim(spark, sfDir))
      .filterCol(col("l_quantity") > 45.0)
      .map(r => FilterOut(r.l_orderkey, r.l_linenumber, r.l_quantity))
      .toDF
  }

  /** flat_map: tokenize documents; the child position `pos` IS the index
    * dimension flat_map appends (index = parent :+ pos) — inherently an
    * indexed-plan consumer. */
  def opFlatMap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents").select($"doc_id", $"text").as[DocSlim]
    GraftStage.fromDataset(docs)
      .flatMap(d => d.text.split(" ", -1).iterator.map(t => (d.doc_id, t)))
      .indexedDF.select($"value._1".as("doc_id"),
        element_at($"index", 2).as("pos"), $"value._2".as("token"))
  }

  /** flat_map on the pure-SQL surface: the 1→N expansion runs as a real
    * Catalyst Generator ([[graft.functions.ExplodeShinglesExpr]]) via
    * LATERAL VIEW — no pre-built array column, no DSL. `pos` is the
    * child index the reference appends (flat_map.py:22-28). The
    * Generate node expands in-partition on the scan side: zero shuffle,
    * the shape that streams at 100 TB. */
  def opFlatMapSql(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sql.GraftExtensions.setup(spark)
    Tables.load(spark, sfDir, "documents").select("doc_id", "text")
      .createOrReplaceTempView("graft_docs_fmsql")
    spark.sql(
      """SELECT doc_id, s.pos, s.shingle
        |FROM graft_docs_fmsql
        |LATERAL VIEW graft_explode_shingles(text, 3) s AS pos, shingle""".stripMargin)
  }

  /** concat, sync-backend round-robin contract: deterministic
    * one-element-per-live-stage interleave via `concatRoundRobin` (the
    * distributed (rank, stage#) sort replicating
    * /root/reference/pypeln/sync/stage.py:36-47). Declared WITH the
    * global interleave position, so the oracle hash pins the ORDER of
    * the interleave (row_number over (rank, stage)), not just the
    * union membership that plain [[opConcat]] checks. */
  def opConcatRr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id").orderBy($"doc_id").as[Long]
    val even = GraftStage.fromDataset(docs.filter(_ % 2 == 0))
    val odd = GraftStage.fromDataset(docs.filter(_ % 2 == 1))
    even.concatRoundRobin(odd)
      .indexedDF.select(element_at($"index", 1).as("pos"), $"value".as("doc_id"))
  }

  /** concat: union-all of two filtered branches of one cached source
    * (also exercises fan-out / stage reuse, pypeln/process/queue.py:114-129). */
  def opConcat(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = GraftStage.fromDataset(lineSlim(spark, sfDir)).cached
    val r = src.filter(_.l_returnflag == "R").map(x => TagOut(x.l_orderkey, x.l_linenumber, "r"))
    val a = src.filter(_.l_returnflag == "A").map(x => TagOut(x.l_orderkey, x.l_linenumber, "a"))
    r.concat(a).toDF
  }

  /** ordered: restore creation order after transforms; `ord` is the
    * source index, proving index fidelity through the chain. */
  def opOrdered(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents")
      .orderBy($"doc_id").select($"doc_id", $"text").as[DocSlim]
    GraftStage.fromDataset(docs)
      .map(d => d.doc_id)
      .ordered
      .indexedDF.select(element_at($"index", 1).as("ord"), $"value".as("doc_id"))
  }

  /** from_iterable |> map |> filter |> ordered |> to_iterable — the
    * reference's hello pipeline (README.md:46-52) at n=1000. */
  def opPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    GraftStage.fromIterable(0L until 1000L)
      .map(x => x * 2 + 1)
      .filter(_ % 7 != 0)
      .ordered
      .indexedDF.select(element_at($"index", 1).as("idx"), $"value")
  }

  /** each + run: side-effect sink. The stage is cached before `run()` so
    * the side effect fires exactly once per element even when the result
    * is re-read by a later action (deliver-once contract of the
    * reference's each/run; exactly-once asserted in GraftStageSpec). */
  def opEachRun(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("graft_each")
    val st = GraftStage.fromDataset(lineSlim(spark, sfDir))
      .filterCol(col("l_quantity") >= 49.0)
      .each(_ => acc.add(1))
      .cached
    st.run() // drain for side effects, reference run() contract
    st.toDF.select($"l_orderkey", $"l_linenumber", $"l_quantity")
  }

  /** to_iterable with return_index=True: the stage is materialized
    * through `toIterableWithIndex` (a real partition-by-partition drain
    * — the reference's sink-to-iterator, to_iterable.py:26-53), consumed on
    * the driver, and the consumed Elements re-parallelized so the
    * oracle can check both values AND indices. Driver-bounded by
    * construction (25-row nation) — to_iterable is the one pypeln
    * terminal that is inherently local. */
  def opToIterable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nat = Tables.load(spark, sfDir, "nation")
      .orderBy($"n_nationkey").select($"n_nationkey", $"n_name").as[(Long, String)]
    val consumed = GraftStage.fromDataset(nat)
      .map { case (k, n) => (k, n.toLowerCase) }
      .toIterableWithIndex
      .map(el => (el.index.head, el.value._1, el.value._2))
      .toSeq
    spark.createDataset(consumed).toDF("idx", "n_nationkey", "n_name_lower")
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("op_to_iterable", opToIterable,
      """SELECT ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS idx,
        |       n_nationkey, lower(n_name) AS n_name_lower FROM nation""".stripMargin),
    QueryDef("op_map", opMap,
      """SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS revenue
        |FROM lineitem""".stripMargin),
    QueryDef("op_filter", opFilter,
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 45.0"""),
    QueryDef("op_flat_map", opFlatMap,
      """SELECT doc_id, unnest(generate_series(1, len(toks))) - 1 AS pos,
        |       unnest(toks) AS token
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)""".stripMargin),
    QueryDef("op_flat_map_sql", opFlatMapSql,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        |      FROM t WHERE len(toks) >= 3)
        |SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        |       array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
        |FROM p""".stripMargin),
    QueryDef("op_concat", opConcat,
      """SELECT l_orderkey, l_linenumber, 'r' AS tag FROM lineitem WHERE l_returnflag = 'R'
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'a' AS tag FROM lineitem WHERE l_returnflag = 'A'""".stripMargin),
    QueryDef("op_concat_rr", opConcatRr,
      """WITH e AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS r, 0 AS s
        |           FROM documents WHERE doc_id % 2 = 0),
        |o AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS r, 1 AS s
        |      FROM documents WHERE doc_id % 2 = 1),
        |u AS (SELECT doc_id, r, s FROM e UNION ALL SELECT doc_id, r, s FROM o)
        |SELECT CAST(row_number() OVER (ORDER BY r, s) - 1 AS BIGINT) AS pos, doc_id
        |FROM u""".stripMargin),
    QueryDef("op_ordered", opOrdered,
      """SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS ord, doc_id FROM documents"""),
    QueryDef("op_pipeline", opPipeline,
      """SELECT i AS idx, i * 2 + 1 AS value FROM generate_series(0, 999) AS g(i)
        |WHERE (i * 2 + 1) % 7 <> 0""".stripMargin),
    QueryDef("op_each_run", opEachRun,
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity >= 49.0"""))
}
