package graft

import graft.core.QueryCaches
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way the entry points (Bench, Verify, Profile, Explain and
  * the test session) build a session, run a declared query and read
  * their env knobs.
  *
  *  - [[session]] builds `local[cpus]` with the graft extension
  *    ([[graft.sql.GraftExtensions]]) installed, so every function,
  *    optimizer rule and planner strategy is present from the start.
  *  - [[run]] runs one query of [[SparkEntry.queries]], applies the
  *    caller's sink, and releases what the query cached even when it
  *    fails. Queries never change session conf, so nothing else needs
  *    resetting between them.
  *  - [[knobs]] parses the env once; a malformed value fails naming the
  *    variable and the value.
  */
object Harness {

  /** The env knobs:
    *  - `SPARK_GRAFT_CPUS` (default 4): local cores and shuffle partitions;
    *  - `SPARK_GRAFT_BENCH_SCALE` (unset by default): the row-replication
    *    probe of [[graft.queries.Tables.scaleProbe]];
    *  - `SPARK_GRAFT_REPS` (default 3): Profile's timed repetitions;
    *  - `SPARK_GRAFT_ONLY=a,b`: restrict Bench/Verify to those queries
    *    (a local-iteration aid; unset, the full inventory runs). */
  final case class Knobs(cpus: Int, benchScale: Option[Int], reps: Int,
      only: Option[Set[String]])

  object Knobs {
    def parse(env: Map[String, String]): Knobs = {
      def positive(name: String): Option[Int] = env.get(name).map { v =>
        v.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'"))
      }
      val only = env.get("SPARK_GRAFT_ONLY").map { v =>
        val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
        require(names.nonEmpty, s"SPARK_GRAFT_ONLY names no query, got '$v'")
        names
      }
      Knobs(positive("SPARK_GRAFT_CPUS").getOrElse(4), positive("SPARK_GRAFT_BENCH_SCALE"),
        positive("SPARK_GRAFT_REPS").getOrElse(3), only)
    }
  }

  lazy val knobs: Knobs = Knobs.parse(sys.env)

  /** The declared query names, sorted, restricted by `SPARK_GRAFT_ONLY`
    * (a name outside the inventory fails rather than running nothing). */
  def selected: Seq[String] = {
    val all = SparkEntry.queries.keySet
    knobs.only.foreach { only =>
      val unknown = only -- all
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    all.toSeq.sorted.filter(n => knobs.only.forall(_.contains(n)))
  }

  def session(cpus: Int = knobs.cpus): SparkSession = {
    require(cpus >= 1, s"cpus must be positive, got $cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // r17 MEASURED REJECTION:
      // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true
      // (let AQE coalesce persisted-plan output) was trialed because the
      // fixpoint states / sketch relations materialize 32 near-empty
      // tasks per downstream stage. Task counts dropped 5–10×
      // (events_dbscan 1219→133) and events_dbscan gained ~4 s — but
      // AQE's coalescing is BYTE-based, so byte-small / compute-DENSE
      // cached relations (embedding vectors, phash arrays) collapsed to
      // 1 partition and serialized their downstream CPU work: same-box
      // A/B (sf0.1, local[32]) sim_mmr 18.4 s/998 tasks → 69.3 s/40
      // tasks, mm_tile_hash 4.3 → 25.2, mm_phash_clusters 6.6 → 43.4.
      // Byte size is the wrong proxy for compute density; rejected
      // session-wide at any scale. Per-op fixes target the overhead
      // instead (fewer jobs/round in fixpoints, explicit scale-derived
      // partition counts on tiny state relations).
      // events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
      // default; read as nanos-since-epoch BIGINT (queries convert).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[graft.sql.GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run the declared query `name`, apply `sink` to its result, and
    * release the query's caches afterwards, whether it failed or not. */
  def run[A](spark: SparkSession, name: String, sfDir: String)(sink: DataFrame => A): A =
    try sink(SparkEntry.queries(name)(spark, sfDir))
    finally QueryCaches.release()

  /** Materialize every column through the noop sink: a count() would
    * let Catalyst prune the very projections being measured (e.g. a
    * fingerprint query degenerates to counting rows). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
