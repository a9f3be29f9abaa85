package graft

import graft.ext.DedupOps
import graft.functions.HashExprs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DedupOps library behavior not covered by the oracle gate: the
  * generalized banded simhash pairing (pigeonhole recall, bucket cap,
  * single-join plan) and query-scoped cache release (the round-3
  * persist-leak fix).
  */
class DedupOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text")

  test("simhashPairs: exact copies pair at hamming 0 for any band count") {
    val base = (0L until 50L).map(i =>
      i -> graft.sources.DocGenSource.textFor(i))
    val corpus = docsDf(base ++ base.map { case (id, t) => (id + 1000L) -> t })
    for (bands <- Seq(2, 3, 5)) {
      val pairs = DedupOps.simhashPairs(corpus, "doc_id", "text",
        bits = 30, bands = bands, maxHamming = 0).collect()
      DedupOps.releaseCaches()
      val planted = pairs.map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => b == a + 1000L }
      assert(planted.length == 50, s"bands=$bands found ${planted.length}/50")
      assert(pairs.forall(_.getLong(2) == 0L))
    }
  }

  test("simhashPairs: pigeonhole — bands = maxHamming+1 guarantees recall at the bound") {
    // Construct signatures differing in exactly `maxHamming` bits by
    // using real near-dup texts (first token dropped): the banded split
    // with bands = maxHamming+1 must find every pair the all-pairs
    // hamming filter would.
    val base = (0L until 80L).map(i => i -> graft.sources.DocGenSource.textFor(i))
    val mut = base.map { case (id, t) =>
      (id + 1000L) -> t.substring(t.indexOf(' ') + 1) }
    val corpus = docsDf(base ++ mut)
    val maxH = 3
    // Ground truth: all-pairs hamming over the same signatures.
    val sigs = corpus.select(col("doc_id"),
      HashExprs.simhash(HashExprs.tokenFps(graft.ext.TextOps.tokens(col("text"))), 30).as("sig"))
    val truth = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        expr("bit_count(a.sig ^ b.sig)").as("h"))
      .filter(col("h") <= maxH)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = DedupOps.simhashPairs(corpus, "doc_id", "text",
        bits = 30, bands = maxH + 1, maxHamming = maxH)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    DedupOps.releaseCaches()
    assert(banded == truth,
      s"banded missed ${(truth -- banded).size}, extra ${(banded -- truth).size}")
  }

  test("simhashPairs: maxBucket caps hot buckets (identical-doc flood is dropped)") {
    // 40 identical docs → every (band, key) bucket they share has 40
    // members; cap at 8 must eliminate all their pairs, while a
    // disjoint planted near-pair in a cold bucket survives.
    val flood = (0L until 40L).map(i => i -> "the the the the the the")
    val pairDocs = Seq(500L -> "spark shuffle plan stage window filter join",
      501L -> "spark shuffle plan stage window filter join")
    val corpus = docsDf(flood ++ pairDocs)
    val capped = DedupOps.simhashPairs(corpus, "doc_id", "text",
        bits = 30, bands = 2, maxHamming = 0, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    DedupOps.releaseCaches()
    assert(capped == Set((500L, 501L)), s"got $capped")
  }

  test("dupClusters: empty pair set yields empty clusters (no NPE at the fixpoint seed)") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(DedupOps.dupClusters(empty).count() == 0)
  }

  test("dupClusters: chain component converges over multiple propagation rounds") {
    // A 12-node path graph needs several min-label rounds (LSH cliques
    // converge at the seed; chains exercise the loop) — regression
    // cover for the fixpoint's per-round checkpoint bookkeeping: only
    // the superseded round's OWN checkpoint may be dropped, never the
    // persisted edges/sketch caches the later rounds re-read.
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = DedupOps.dupClusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 11L).map(_ -> 0L).toMap, s"got $got")
  }

  test("dupClusters: 300-node path converges within the default rounds (pointer jumping)") {
    // Diameter 300 ≫ the safety ceiling under plain one-hop
    // propagation — only path-halving makes the fixpoint reachable in
    // O(log diameter) rounds. This is the events_dbscan core-graph
    // shape at scale (a density ridge), where the silent early-exit
    // produced wrong cluster reps at sf0.1 before the fix.
    val path = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = DedupOps.dupClusters(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    DedupOps.releaseCaches()
    assert(got.size == 300 && got.values.forall(_ == 0L),
      s"non-converged labels: ${got.filter(_._2 != 0L).take(5)}")
  }

  test("releaseCaches: no persisted RDDs leak after declared queries (persist, checkpoint, cached fan-out)") {
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    for (q <- Seq("dedup_near", "dedup_near_capped", "dedup_clusters",
        "dedup_simhash_pairs", "op_concat", "op_each_run",
        // every query that runs a QueryCaches.checkpoint/iterate site
        "events_dbscan", "sim_graph_search", "sim_beam_search", "sim_bfs_hops",
        "sim_kcore", "sim_pairs_rewrite", "text_bpe_train", "text_bpe_apply",
        "text_bpe_heldout", "q_mv_rewrite", "q_mv_rewrite_join")) {
      SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      DedupOps.releaseCaches()
    }
    val leaked = sc.getPersistentRDDs.keySet -- baseline
    assert(leaked.isEmpty, s"leaked persisted RDD ids: $leaked")
  }
}
