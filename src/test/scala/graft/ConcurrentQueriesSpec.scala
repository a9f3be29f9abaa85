package graft

import graft.core.QueryCaches
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** Queries that opt into a rewrite (LSH, MV, interval), install the
  * extension or register temp views, run concurrently in ONE session:
  * each result must equal its serial run, the session's LSH confs must
  * be untouched, and every cache must be released afterwards. */
class ConcurrentQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  // the sf0.001 tables committed with the benchmark (byte-identical to
  // the generated set), so this test reads nothing outside the checkout
  private val sf = "perfbench/query_mix/sf0.001"
  private val queries = Seq("q_mv_rewrite", "q_mv_rewrite_join", "sim_pairs_rewrite",
    "events_asof_native", "op_flat_map_sql", "mm_frames_sql", "events_interval_join",
    "dedup_clusters")
  private val rounds = 3

  /** Order-insensitive digest of a result: md5 of its sorted rows. */
  private def digest(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5").digest(rows.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def lshConf: Map[String, String] =
    spark.conf.getAll.filter(_._1.startsWith("spark.graft.lsh."))
  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("8 queries from 8 threads, several rounds, one session: each result equals its serial run") {
    QueryCaches.release()
    val baseline = persistedIds
    val lshBefore = lshConf
    val serial = queries.map(q => q -> Harness.run(spark, q, sf)(digest)).toMap
    val pool = Executors.newFixedThreadPool(queries.size)
    val outcomes =
      try (0 until rounds).flatMap { round =>
        val start = new CountDownLatch(1)
        // every thread runs a different query each round
        val runs = queries.indices.map { i =>
          val q = queries((i + round) % queries.size)
          pool.submit(() => { start.await(); (round, q, Try(Harness.run(spark, q, sf)(digest))) })
        }
        start.countDown()
        runs.map(_.get())
      } finally {
        pool.shutdown()
        assert(pool.awaitTermination(60, TimeUnit.SECONDS))
      }
    val failed = outcomes.collect { case (r, q, scala.util.Failure(e)) => s"round $r $q: $e" }
    assert(failed.isEmpty, failed.mkString("\n"))
    val differing = outcomes.collect { case (r, q, scala.util.Success(d)) if d != serial(q) => s"round $r $q" }
    assert(differing.isEmpty, s"results differ from the serial run: ${differing.mkString(", ")}")
    assert(lshConf == lshBefore, "a query changed the session's LSH confs")
    // the pool's threads are gone, so this also sweeps anything they left
    QueryCaches.release()
    assert(persistedIds == baseline, s"leaked persisted RDD ids: ${persistedIds -- baseline}")
  }
}
