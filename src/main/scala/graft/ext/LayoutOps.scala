package graft.ext

import graft.functions.HashExprs
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions._

/** Data-layout operators — the write-side half of scan pruning at
  * 100 TB. A lakehouse table is only as skippable as its file layout:
  * min-max footer stats prune a file iff the sort that produced the
  * files CLUSTERS the predicate columns. These helpers produce (and
  * measure) the two standard layouts:
  *
  *   - leading-column sort: perfect pruning on one column, none on the
  *     rest;
  *   - Z-order (Morton): bits of BOTH columns interleaved after
  *     per-column min-max normalization to a common width, so a range
  *     partitioning of the z-value clusters every dimension at once
  *     ([[graft.functions.HashKernels.zInterleave]], the native
  *     codegen'd kernel; `graft_zorder` on the SQL surface).
  *
  * The declared query `q_zorder` (queries/Relational.scala) pins the
  * whole pipeline oracle-exactly with rank-based bucket cuts; these
  * library entry points use the PRODUCTION spelling instead —
  * `repartitionByRange` + `sortWithinPartitions`, a distributed
  * range-partitioned sort with NO single-partition window — which a
  * writer then streams straight to parquet (each output partition =
  * one file whose footer stats are tight). ZorderScaleSpec drives this
  * path at 20M rows: 19/256 files scanned vs 64 for the linear sort.
  */
object LayoutOps {

  /** Morton z-value of two integral columns normalized to `bits` each:
    * `(a·2^bits div (aMax+1)) interleave (b·2^bits div (bMax+1))`.
    * Normalization is what makes the curve balanced — interleaving raw
    * columns of unequal magnitude degenerates toward a sort on the
    * wider one (measured in q_zorder's development: no win at 15-vs-10
    * raw bits). `aMax`/`bMax` are columns so callers can fan a
    * broadcast maxima row across the scan (the scalar-broadcast idiom)
    * instead of hardcoding data bounds. */
  def zValue(a: Column, b: Column, aMax: Column, bMax: Column,
      bits: Int = 16): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    val hi = 1L << bits
    // integral `div` (not Column./ — float division loses exactness
    // above 2^53 and rounds at the boundary)
    def idiv(x: Column, y: Column): Column =
      toColumn(IntegralDivide(toExpression(x), toExpression(y)))
    HashExprs.zorder(
      idiv((a.cast("long") * hi), aMax.cast("long") + 1L),
      idiv((b.cast("long") * hi), bMax.cast("long") + 1L), bits)
  }

  /** The z-order table writer: one scan computes maxima (map-side
    * combined, broadcast back), a second computes the z-value in-line
    * and range-partitions into `nFiles` sorted output partitions.
    * Sampled range boundaries make file sizes approximately equal —
    * the writer tradeoff every OPTIMIZE-style command accepts. The
    * returned frame carries the original columns only (z is dropped);
    * write it with any sink and each partition's min-max footer stats
    * are tight on BOTH `aCol` and `bCol`. */
  def zorderRepartition(df: DataFrame, aCol: String, bCol: String,
      nFiles: Int, bits: Int = 16): DataFrame = {
    val mx = df.agg(max(col(aCol)).as("_za_max"), max(col(bCol)).as("_zb_max"))
    df.crossJoin(broadcast(mx))
      .withColumn("_z", zValue(col(aCol), col(bCol),
        col("_za_max"), col("_zb_max"), bits))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z", "_za_max", "_zb_max")
  }

  /** Co-located-join layout: write `df` as a parquet-source BUCKETED
    * table (`bucketBy(buckets, key)` + per-file `sortBy`) and return
    * the catalog-backed read. A bucketed scan reports
    * `HashPartitioning(key, buckets)`, so a join or aggregation keyed
    * on `key` against another table bucketed the same way needs NO
    * exchange — the 100 TB answer for fact⋈fact joins that repeat
    * every run: pay the shuffle ONCE at layout time, never at query
    * time. The write is skipped when the table already exists in this
    * session's catalog (the production shape: lay out once, query
    * many); size `buckets` to the cluster — executor-count multiples —
    * not to these test defaults. */
  def bucketedTable(df: DataFrame, name: String, key: String, buckets: Int): DataFrame =
    layOutOnce(df, name)(_.write.bucketBy(buckets, key).sortBy(key))

  /** ANN-index layout: directory-PARTITIONED by the coarse list id
    * AND bucketed by the vector id — the persisted IVF-PQ shape.
    * The partition dirs make list probes PARTITION-PRUNED scans (an
    * nprobe=1 query touches 1/n_lists of the files at any corpus
    * size), while the bucket partitioning makes the per-(query,
    * vector) ADC aggregation exchange-free: the scan reports
    * `HashPartitioning(bucketKey, buckets)`, which satisfies the
    * ClusteredDistribution of any grouping that CONTAINS the bucket
    * key — so `groupBy(q_id, vec_id)` runs directly on scan output.
    * Same skip-if-exists contract as [[bucketedTable]]. */
  def indexTable(df: DataFrame, name: String, partCol: String,
      bucketKey: String, buckets: Int): DataFrame =
    layOutOnce(df, name)(_.repartition(col(partCol)).write
      .partitionBy(partCol).bucketBy(buckets, bucketKey).sortBy(bucketKey))

  /** Partition-pruning layout: write `df` as a directory-PARTITIONED
    * parquet table (`partitionBy(partCol)`) and return the
    * catalog-backed read. The scan of this table carries
    * PartitionFilters: a static predicate on `partCol` prunes
    * directories at PLANNING time, and a join against a filtered
    * dimension prunes them at RUNTIME via Spark's dynamic partition
    * pruning (the star-schema date-dim shape — the 100 TB answer for
    * "the filter lives on the dimension, not the fact"). The frame is
    * repartitioned by the partition column first so each directory
    * holds one file instead of one-per-task small files. Skipped when
    * the table already exists in this session (lay out once, query
    * many) — same contract as [[bucketedTable]]. */
  def partitionedTable(df: DataFrame, name: String, partCol: String): DataFrame =
    layOutOnce(df, name)(_.repartition(col(partCol)).write.partitionBy(partCol))

  /** The create-once write behind the three table layouts above:
    * unless `name` is already in this session's catalog, `writer(df)`
    * is saved as a managed parquet table, and the catalog-backed read
    * is returned either way. */
  private def layOutOnce(df: DataFrame, name: String)(
      writer: DataFrame => DataFrameWriter[Row]): DataFrame = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(name)) {
      // The in-memory catalog forgets tables across JVMs but the
      // warehouse directory persists — clear a stale location so the
      // managed-table create doesn't refuse (LOCATION_ALREADY_EXISTS).
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      writer(df).mode("overwrite").format("parquet").saveAsTable(name)
    }
    spark.table(name)
  }

  /** Compaction/bin-packing PLANNER over file metadata — the OPTIMIZE
    * step every lakehouse table needs once streaming ingest has strewn
    * small files: files (in a caller-chosen order — usually partition/
    * z-value order, so compaction preserves clustering) are assigned to
    * target-size output bins by the streaming rule
    * `bin = cum_size_before DIV target` — each bin closes as soon as
    * it crosses the target, the Delta/Iceberg OPTIMIZE shape. ONE
    * window cumsum computes every assignment.
    *
    * Scale posture: the input is file METADATA ([[fileStats]] or a
    * catalog listing), never data — 100 TB at 128 MB files is ~800k
    * rows, so the single-partition ordered window here is bounded by
    * the catalog size, not the table size (the same argument as
    * q_zorder's planner; the rewrite itself is then one
    * `repartitionByRange` per bin over only the affected files).
    * All-integer: the plan is deterministic and oracle-checkable. */
  def binPack(files: DataFrame, sizeCol: String, orderCol: Column,
      targetSize: Long): DataFrame = {
    require(targetSize >= 1, s"targetSize must be >= 1, got $targetSize")
    val w = org.apache.spark.sql.expressions.Window.orderBy(orderCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    files
      .withColumn("cum0", coalesce(sum(col(sizeCol)).over(w), lit(0L)))
      .withColumn("bin", expr(s"CAST(cum0 DIV $targetSize AS BIGINT)"))
      .drop("cum0")
  }

  /** Per-output-partition min-max footer stats for `cols` — what a
    * parquet writer would persist per file, materialized as a relation
    * so pruning can be ESTIMATED before committing to a layout (the
    * q_zorder measurement, available on any frame). One map-side
    * combined aggregate keyed by partition id; |files| rows out. */
  def fileStats(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(spark_partition_id().cast("bigint").as("file"))
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"),
          max(col(c)).as(s"${c}_max"))): _*)
}
