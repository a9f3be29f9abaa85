package graft.queries

import graft.ext.SimOps
import graft.functions.HashExprs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/** Similarity-search suite over `embeddings` (LLM-pipeline pillar #2):
  * brute-force exact top-k as the correctness baseline, SRP-LSH
  * bucketed ANN as the scale path, embedding near-dup pairing, and an
  * IVF-style coarse quantizer (decimal-exact centroids + nearest-
  * centroid assignment).
  *
  * Plans are collect-free and cartesian-free: query sets are broadcast
  * (they are small by construction), LSH candidates meet only inside
  * buckets, and centroid assignment broadcasts the (labels × dims)
  * centroid table. Per-row cosine math is a native single-pass kernel
  * whose IEEE fold order matches the DuckDB oracle bit-exactly
  * (graft.functions.HashExprs scaladoc).
  */
object SimQueries {

  private val SHIFT = 1000000L

  private def emb(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "embeddings")

  /** Every 100th vector queries the corpus (5 queries at sf0.01). */
  private def querySet(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

  /** Contrastive hard-example mining (the triplet-selection step of
    * embedding training): for each anchor, the 3 most-similar vectors
    * with a DIFFERENT label (hard negatives — the pairs a contrastive
    * loss learns most from) plus the least-similar SAME-label vector
    * (hardest positive). One broadcast-anchor corpus pass computes
    * every score; the scored relation is query-scoped persisted so the
    * neg and pos branches share it instead of re-scanning the corpus.
    * rk filters run on the raw window output (bigint cast after — the
    * WindowGroupLimit pattern), so each branch ships only its top rows
    * per anchor out of the map side. At 100 TB the anchor set stays
    * the bounded mining batch (broadcast); the corpus side is one scan
    * whatever k is. */
  def simHardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val anchors = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("label").as("q_label"))
    val scored = graft.core.QueryCaches.track(
      e.crossJoin(broadcast(anchors))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
          SimOps.cosine(col("embedding"), col("q_vec")).as("cos")))
    val negs = scored.filter(col("label") =!= col("q_label"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= 3).withColumn("kind", lit("neg"))
    val pos = scored.filter(col("label") === col("q_label"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cos").asc, col("vec_id"))))
      .filter(col("rk") <= 1).withColumn("kind", lit("pos"))
    negs.unionAll(pos).select(col("q_id"), col("kind"),
      col("rk").cast("bigint").as("rk"), col("vec_id"), col("label"), col("cos"))
  }

  /** Exact top-10 cosine neighbors per query — the ANN ground truth.
    * One corpus scan; the only shuffle is the per-query rank over
    * queries × corpus scored rows. */
  def simTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    SimOps.topkBrute(e.select(col("vec_id"), col("embedding")), querySet(e), 10)
  }

  /** ANN top-10 via 4-bit SRP-LSH buckets: candidates are bucket-mates
    * only (~1/16 of the corpus per query), exact cosine re-rank inside
    * the bucket. The 100 TB shape: score O(corpus/buckets × queries)
    * instead of O(corpus × queries). */
  def simLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    SimOps.topkLsh(e.select(col("vec_id"), col("embedding")), querySet(e), 10, 4)
  }

  /** ANN quality measurement as a declared query — "measure, don't
    * guess" for the LSH parameters: per-query recall@10 of the 4-bit
    * SRP-LSH search ([[simLsh]]) against the exact brute-force truth
    * ([[simTopk]]), the number every ANN deployment tunes bits/probes
    * by. Joins the two oracle-gated result sets on (query, neighbor)
    * and counts hits — recall = |approx ∩ truth| / |truth| as an
    * integer-ratio double (exact cross-engine). Plan: both rankings
    * use the partial-top-k WindowGroupLimit shape; the recall join
    * keys on (q_id, vec_id) — queries × 10 fixed-width rows per side,
    * negligible beside the scoring scans at any corpus size. */
  def simRecallReport(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val truth = SimOps.topkBrute(e.select(col("vec_id"), col("embedding")), querySet(e), 10)
      .select(col("q_id"), col("vec_id"))
    val approx = SimOps.topkLsh(e.select(col("vec_id"), col("embedding")), querySet(e), 10, 4)
      .select(col("q_id").as("a_q"), col("vec_id").as("a_v"))
    truth.join(approx,
        col("q_id") === col("a_q") && col("vec_id") === col("a_v"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("a_v").isNotNull, 1L).otherwise(0L)).as("n_found"))
      .withColumn("recall", col("n_found").cast("double") / col("n_truth"))
  }

  /** SRP bit-width sweep — [[simRecallReport]] measures ONE config;
    * this sweeps the ANN knob the way [[graft.queries.DedupQueries
    * .dedupBandSweep]] sweeps the LSH bands: 2/4/6 SRP bits against
    * the SAME brute-force truth (one broadcast pass, persisted — the
    * expensive relation is shared across configs), reporting per
    * config the aggregate recall@10 in milli units plus the expected
    * candidate volume (corpus÷2^bits per query — the cost axis the
    * recall trades against). Fewer bits → bigger buckets → higher
    * recall and more cosine evaluations; the row a deployment reads to
    * pick its operating point. All integers under the hash. */
  def simAnnSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val corpus = e.select(col("vec_id"), col("embedding"))
    val nCorpus = corpus.agg(count(lit(1)).as("n_corpus"))
    val truth = graft.core.QueryCaches.track(
      SimOps.topkBrute(corpus, querySet(e), 10).select(col("q_id"), col("vec_id")))
    def cfg(bits: Int): DataFrame =
      truth.join(
          SimOps.topkLsh(corpus, querySet(e), 10, bits)
            .select(col("q_id").as("a_q"), col("vec_id").as("a_v")),
          col("q_id") === col("a_q") && col("vec_id") === col("a_v"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(when(col("a_v").isNotNull, 1L).otherwise(0L)).as("n_found"))
        .crossJoin(broadcast(nCorpus))
        .select(lit(bits.toLong).as("bits"), col("n_truth"), col("n_found"),
          expr("CAST((1000 * n_found) div n_truth AS BIGINT)").as("recall_milli"),
          expr(s"n_corpus div CAST(shiftleft(1, $bits) AS BIGINT)")
            .as("exp_candidates_per_q"))
    cfg(2).unionByName(cfg(4)).unionByName(cfg(6))
  }

  /** IVF nprobe sweep — the third knob family beside [[simAnnSweep]]'s
    * SRP bits and [[graft.queries.DedupQueries.dedupBandSweep]]'s LSH
    * bands, and the first row to ORACLE-GATE [[SimOps.topkIvf]]'s full
    * search path (sim_ivf gates only the coarse assignment): one
    * persisted [[SimOps.ivfAssign]] relation (the expensive corpus ×
    * centroids pass — at warehouse scale it IS the table's physical
    * bucketing, computed once) probed at nprobe ∈ {1, 2, 4} against
    * one persisted brute-force truth, reporting recall@10 beside the
    * scanned-fraction cost axis (1000·nprobe div |cells|). More probes
    * → more posting lists scanned → higher recall; the row that picks
    * the deployment's operating point. All integers under the hash. */
  def simIvfSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val corpus = e.select(col("vec_id"), col("embedding"))
    val cents = graft.core.QueryCaches.track(SimOps.labelCentroids(e, "label"))
    val nCents = cents.agg(count(lit(1)).as("n_cents"))
    val assigned = graft.core.QueryCaches.track(SimOps.ivfAssign(corpus, cents))
    val truth = graft.core.QueryCaches.track(
      SimOps.topkBrute(corpus, querySet(e), 10).select(col("q_id"), col("vec_id")))
    // r17 (guide §2.4 — share one pass): nprobe ∈ {1,2,4} probe sets
    // NEST (cells ranked ≤ np by the same (qc desc, c_id) order), so
    // the expensive pass — posting-list join + exact cosine over the
    // probed candidates — runs ONCE at the widest setting with the
    // cell rank carried along, and each sweep point is a rank-filter +
    // re-rank over the persisted scored relation. Identical rows to
    // three independent topkIvfAssigned searches (the np-filtered
    // candidate set and the (cos desc, vec_id) rank are unchanged);
    // was 3 full probe passes, 37 jobs — now 1 pass, ~24 jobs.
    val maxNp = 4
    val probes = querySet(e).crossJoin(broadcast(cents))
      .select(col("q_id"), col("q_vec"), col("c_id"),
        SimOps.cosine(col("q_vec"), col("c_vec")).as("qc"))
      .withColumn("cent_rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("qc").desc, col("c_id"))))
      .filter(col("cent_rk") <= maxNp)
      .select(col("q_id"), col("q_vec"), col("c_id").as("cent"), col("cent_rk"))
    val scored = graft.core.QueryCaches.track(
      assigned.join(broadcast(probes), "cent")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("cent_rk"),
          SimOps.cosine(col("embedding"), col("q_vec")).as("cos")))
    def cfg(np: Int): DataFrame = {
      val ann = scored.filter(col("cent_rk") <= np)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rk") <= 10)
        .select(col("q_id").as("a_q"), col("vec_id").as("a_v"))
      truth.join(ann,
          col("q_id") === col("a_q") && col("vec_id") === col("a_v"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(when(col("a_v").isNotNull, 1L).otherwise(0L)).as("n_found"))
        .crossJoin(broadcast(nCents))
        .select(lit(np.toLong).as("nprobe"), col("n_truth"), col("n_found"),
          expr("CAST((1000 * n_found) div n_truth AS BIGINT)").as("recall_milli"),
          expr(s"CAST((1000 * $np) div n_cents AS BIGINT)").as("scanned_permille"))
    }
    cfg(1).unionByName(cfg(2)).unionByName(cfg(4))
  }

  /** Embedding near-duplicate pairs: corpus ∪ planted exact copies
    * (vec_id+1e6), bucketed by 16-bit SRP — identical vectors collide
    * with probability 1 — then cosine ≥ 0.999 verification inside
    * buckets. 500 planted pairs out, zero cross-pairs (random 64-dim
    * unit vectors never reach 0.999). Bucket join, never all-pairs. */
  def simPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir).select(col("vec_id"), col("embedding"))
    val corpus = e.unionAll(e.select((col("vec_id") + SHIFT).as("vec_id"), col("embedding")))
    SimOps.embNearDupPairs(corpus, bits = 16, threshold = 0.999)
  }

  /** [[simPairs]] with the hot-bucket guard ENGAGED (maxBucket = 4):
    * SRP buckets holding more than 4 vectors — embedding-space
    * boilerplate that would square into the pairing — are dropped
    * whole before pair generation, spelled in the oracle as a
    * HAVING-bounded bucket CTE. Closes the loop on the fixed-width
    * bucket saturation note: at any corpus size, candidate volume is
    * ≤ buckets × maxBucket². COARSE 8-bit buckets here so the cap
    * engages organically at oracle scale: 2·|emb| members over 2^8
    * near-uniform buckets (the decorrelated plane hash) average ~4 per
    * bucket, so a meaningful fraction exceed the cap and are dropped —
    * with 16-bit buckets every bucket holds exactly one twin pair and
    * the guard would be verified-but-idle. */
  def simPairsCapped(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir).select(col("vec_id"), col("embedding"))
    val corpus = e.unionAll(e.select((col("vec_id") + SHIFT).as("vec_id"), col("embedding")))
    SimOps.embNearDupPairs(corpus, bits = 8, threshold = 0.999, maxBucket = 4)
  }

  /** The Catalyst rewrite under the oracle gate: the join is DECLARED
    * in its naive quadratic form — `graft_cosine(a, b) >= 0.999` as the
    * ONLY similarity predicate — and [[graft.plans.LshJoinRewrite]]
    * conjoins `graft_srp_bucket(a, 16) = graft_srp_bucket(b, 16)`,
    * which Catalyst extracts as the hash-join key: candidates meet only
    * inside SRP buckets, O(collisions) instead of O(N²) nested-loop
    * scoring. The oracle spells the REWRITTEN (bucket-conjoined)
    * semantics, so the green row pins the rule's approximate contract —
    * identical planted copies always share their bucket (full recall at
    * cos ≥ 0.999 on this corpus); PlanSpec separately proves the
    * nested-loop → equi-join plan change.
    *
    * The query rewrites its own analyzed plan, so the session's conf
    * and every other plan in it stay as they were. */
  def simPairsRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir).select(col("vec_id"), col("embedding"))
    val corpus = e.unionAll(e.select((col("vec_id") + SHIFT).as("vec_id"), col("embedding")))
    val naive = corpus.as("a").join(corpus.as("b"),
        SimOps.cosine(col("a.embedding"), col("b.embedding")) >= 0.999 &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        SimOps.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
    org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
      graft.plans.LshJoinRewrite.rewrite(naive.queryExecution.analyzed, bits = 16))
  }

  /** Symmetric int8 quantization — the standard ANN compression step
    * (4x smaller vectors, SIMD-friendly dot products): per-vector
    * scale = 127 / max|v|, q_i = round(v_i · scale). Pure per-row
    * column arithmetic over the embedding attribute (float→double
    * casts exact, one max fold + one rounding map — no shuffle, no
    * UDF); at 100 TB this runs inside the scan projection. Emits the
    * scale so consumers can dequantize (v ≈ q · maxabs/127).
    *
    * The DECLARED row projects the int8 vector to scalar checksums
    * (sum, L1, dot) — the comparator hashes scalars, and the three
    * folds jointly pin every element's rounding — while [[quantized]]
    * returns the actual array column for pipeline use. */
  def quantized(e: DataFrame): DataFrame = {
    // two-step projection so the rounding lambda multiplies by an
    // attribute; if CollapseProject inlines the max-fold back into the
    // lambda the cost is still only dims² flops/row (64-dim: 4k flops)
    // — constant per row, unlike the sketch kernels that went native
    val maxabs = array_max(transform(col("embedding"), v => abs(v.cast("double"))))
    e.select(col("vec_id"), col("label"), col("embedding"),
        when(maxabs > 0.0, lit(127.0) / maxabs).otherwise(lit(0.0)).as("scale"))
      .select(col("vec_id"), col("label"), col("scale"),
        transform(col("embedding"),
          v => round(v.cast("double") * col("scale")).cast("int")).as("q"))
  }

  def simQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    def fold(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      aggregate(col("q"), lit(0L), (acc, v) => acc + f(v.cast("long")))
    quantized(emb(spark, sfDir))
      .select(col("vec_id"), col("label"), col("scale"),
        fold(identity).as("q_sum"),
        fold(abs).as("q_l1"),
        fold(v => v * v).as("q_dot"))
  }

  /** IVF coarse quantizer: per-label centroids via decimal-exact
    * per-dimension means (order-independent under any shuffle — the
    * only cross-row float aggregation in the suite), then every vector
    * assigned to its nearest centroid by cosine; output is the
    * label × assigned confusion matrix. Centroids are labels × dims —
    * broadcast; the corpus is scanned once. */
  def simIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val cents = SimOps.labelCentroids(e, "label")
      .select(col("c_id").cast("int").as("c_label"), col("c_vec"))
    // assignment via max_by (map-side-combined argmax — one row per
    // vector crosses the shuffle; see SimOps.topkIvf), identical
    // semantics to a (cos DESC, c_label ASC) rank-1 window
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"),
        col("c_label"), SimOps.cosine(col("embedding"), col("c_vec")).as("cos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(max_by(col("c_label"), struct(col("cos"), (-col("c_label")).as("nc"))).as("c_label"))
      .groupBy(col("label"), col("c_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** Bucketed k-NN graph over the whole corpus: top-5 cosine neighbors
    * per vector among its 4-bit SRP bucket-mates ([[SimOps.knnGraph]]).
    * Unlike [[simLsh]] nothing is broadcast — the "query set" is the
    * corpus itself, so the bucket equi-join is a shuffle join (O(N)
    * fixed-width rows per side). The graph is what diversity sampling /
    * graph dedup consume downstream; the oracle spells the identical
    * bucketed semantics, so the green row pins both the SRP bucketing
    * and the per-source (cos DESC, nbr ASC) rank. */
  def simKnnGraph(spark: SparkSession, sfDir: String): DataFrame =
    SimOps.knnGraph(
      emb(spark, sfDir).select(col("vec_id"), col("embedding")), k = 5, bits = 4)

  /** Hubness audit — the in-degree histogram of the directed kNN
    * graph, including the ZERO row: how many vectors are never
    * retrieved as anyone's neighbor (orphans a similarity index
    * silently drops from every result set) and how many are hubs
    * (high in-degree points that crowd into every neighbor list — the
    * classic high-dimensional pathology that makes [[mutualEdges]]'
    * symmetrization necessary). One left join of the corpus ids onto
    * the graph's map-side-combined in-degree counts, then a
    * |degrees|-group fold — the audit costs one pass over the O(N·k)
    * edge relation regardless of corpus size. */
  def simHubness(spark: SparkSession, sfDir: String): DataFrame = {
    val cnt = SimOps.knnGraph(
        emb(spark, sfDir).select(col("vec_id"), col("embedding")), k = 5, bits = 4)
      .groupBy(col("nbr_id")).agg(count(lit(1)).as("c"))
    emb(spark, sfDir).select(col("vec_id"))
      .join(cnt, col("vec_id") === col("nbr_id"), "left")
      .select(coalesce(col("c"), lit(0L)).as("indeg"))
      .groupBy(col("indeg")).agg(count(lit(1)).as("n_vecs"))
  }

  /** Label-quality audit via k-NN classification: predict every
    * vector's label by majority vote of its bucketed 5-NN
    * ([[SimOps.knnGraph]] — SRP buckets, never all-pairs), then report
    * per-label accuracy. The embedding-QA op behind mislabeled-data
    * hunts: a label whose k-NN accuracy craters is either noisy or not
    * linearly clustered. Vote argmax is map-side `max_by` over
    * (votes, −label) — one row per vector crosses the shuffle, ties
    * break to the smallest label (oracle spells the identical rank-1
    * window). Vectors alone in their SRP bucket have no neighbors and
    * drop out (inner-join semantics) — per-label n counts CLASSIFIED
    * vectors; coverage is sim_bucket_hist's job. */
  def simKnnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val knn = SimOps.knnGraph(e.select(col("vec_id"), col("embedding")), k = 5, bits = 4)
    val votes = knn
      .join(e.select(col("vec_id").as("nbr_id"), col("label").as("nbr_label")), "nbr_id")
      .groupBy(col("vec_id"), col("nbr_label")).agg(count(lit(1)).as("votes"))
    val pred = votes.groupBy(col("vec_id"))
      .agg(max_by(col("nbr_label"),
        struct(col("votes"), (-col("nbr_label")).as("nl"))).as("pred_label"))
    pred.join(e.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred_label") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy", col("n_correct").cast("double") / col("n").cast("double"))
  }

  /** BFS hop distances from the standard query panel (vec_id ≡ 0
    * mod 100) over the symmetrized bucketed 5-NN graph — "how many
    * neighbor hops separate every reachable vector from a curated seed
    * set", the coverage-audit companion to [[simKnnClassify]] (labels)
    * and sim_components (membership): distance tells you WHICH
    * unreached data to curate next. Rides [[SimOps.bfsHops]] (frontier
    * expansion, anti-join dedup, localCheckpoint per round — the
    * Pregel shape); the edge set symmetrizes [[SimOps.knnGraph]]
    * because k-NN is directed (a ∈ 5NN(b) ⇏ b ∈ 5NN(a)). The oracle
    * spells the same reachability as a recursive CTE enumerating paths
    * with hop < 4 and taking MIN(hop) per vertex — O(paths), fine at
    * oracle scale, and exactly the cost the distributed frontier
    * version avoids. Vectors outside 4 hops (or in seedless SRP
    * buckets) are absent in BOTH engines — reachability is part of the
    * hashed surface. */
  def simBfsHops(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val knn = SimOps.knnGraph(
      e.select(col("vec_id"), col("embedding")), k = 5, bits = 4)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    val edges = knn.unionAll(
      knn.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val seeds = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("id"))
    SimOps.bfsHops(edges, seeds, maxHops = 4)
      .select(col("id").as("vec_id"), col("hops"))
  }

  /** Greedy k-center selection of 8 diversity exemplars over the
    * embedding corpus — [[SimOps.kcenterGreedy]] under the oracle
    * gate: the DuckDB recursive CTE replays the identical greedy
    * trajectory (same seed, same (maxcos, vec_id) argmin tie-break),
    * so all 8 (rank, id, coverage-radius) rows hash-match. The
    * coreset-selection op for "pick k maximally-spread examples". */
  def simKcenter(spark: SparkSession, sfDir: String): DataFrame =
    SimOps.kcenterGreedy(
      emb(spark, sfDir).select(col("vec_id"), col("embedding")), k = 8)

  /** Greedy graph-ANN search under the oracle gate —
    * [[SimOps.graphSearchGreedy]] (the HNSW layer-0 walk over the
    * symmetrized 5-NN graph) for the standard query panel, reported
    * beside the brute-force true nearest neighbor so the walk's local-
    * optimum risk is hash-visible (found_cos ≤ true_cos always; hit
    * says whether greedy reached the optimum). The oracle's recursive
    * CTE replays each walk step-for-step — entry vertex, strict-
    * improvement stop, (cos, id) tie-break — so even n_steps is part
    * of the hashed surface. */
  def simGraphSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val q = querySet(e)
    val walked = SimOps.graphSearchGreedy(
      e.select(col("vec_id"), col("embedding")), q, k = 5, bits = 4, maxSteps = 6)
    val truth = e.select(col("vec_id"), col("embedding")).crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        SimOps.cosine(col("embedding"), col("q_vec")).as("c"))
      .groupBy(col("q_id"))
      .agg(max_by(struct(col("vec_id"), col("c")),
        struct(col("c"), (-col("vec_id")).as("nv"))).as("t"))
      .select(col("q_id"), col("t.vec_id").as("true_id"), col("t.c").as("true_cos"))
    walked.join(truth, "q_id")
      .select(col("q_id"), col("found_id"), col("found_cos"), col("n_steps"),
        col("true_id"), col("true_cos"),
        (col("found_id") === col("true_id")).as("hit"))
  }

  /** Beam search under the oracle gate — [[SimOps.beamSearch]]
    * (width 3, 4 rounds) beside the same brute-force truth as
    * [[simGraphSearch]]: the ef-search dial made hash-visible. On this
    * corpus greedy strands several queries at the entry vertex; the
    * 3-wide beam escapes (hit/beam_hit flags under the hash), which is
    * the exact recall-vs-work trade the width parameter buys. The
    * oracle's recursive CTE carries the identical (beam, visited)
    * list state and re-ranks with the same (cos desc, id) order. */
  def simBeamSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val q = querySet(e)
    val beam = SimOps.beamSearch(
      e.select(col("vec_id"), col("embedding")), q, k = 5, bits = 4,
      width = 3, rounds = 4)
    val bAgg = beam.groupBy(col("q_id")).agg(
      max_by(struct(col("id"), col("cos")),
        struct(col("cos"), (-col("id")).as("ni"))).as("t1"),
      collect_list(col("id")).as("beam_ids"))
    val truth = e.select(col("vec_id"), col("embedding")).crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        SimOps.cosine(col("embedding"), col("q_vec")).as("c"))
      .groupBy(col("q_id"))
      .agg(max_by(struct(col("vec_id"), col("c")),
        struct(col("c"), (-col("vec_id")).as("nv"))).as("t"))
      .select(col("q_id"), col("t.vec_id").as("true_id"), col("t.c").as("true_cos"))
    bAgg.join(truth, "q_id")
      .select(col("q_id"), col("t1.id").as("found_id"), col("t1.cos").as("found_cos"),
        col("true_id"), col("true_cos"),
        (col("t1.id") === col("true_id")).as("hit"),
        array_contains(col("beam_ids"), col("true_id")).as("beam_hit"))
  }

  /** Multi-probe SRP-LSH under the oracle gate: each query probes its
    * home bucket PLUS every 1-bit-flipped bucket
    * ([[SimOps.topkLshMultiProbe]]) — recall recovered from mis-signed
    * planes at the cost of (bits+1)× QUERY-side rows only (the corpus
    * is bucketed once). The oracle spells the identical probe set
    * (xor of each plane bit), so the green row pins the probe
    * expansion arithmetic, not just the happy-path bucket match. */
  def simLshProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    SimOps.topkLshMultiProbe(e.select(col("vec_id"), col("embedding")), querySet(e), 10, 4)
  }

  /** Rocchio pseudo-relevance feedback — the classic query-expansion
    * loop every retrieval stack eventually ships: take the top-3
    * neighbors of each query as presumed-relevant, move the query
    * toward their centroid (q' = q + mean(rel), α = β = 1), re-run
    * top-5 with the expanded vector, and report each result with its
    * was-it-already-there flag (the drift-vs-reinforcement readout:
    * in_orig=false rows are what the expansion BOUGHT). Exactness: the
    * feedback centroid is the decimal-mean contract, q' is one
    * element-wise double addition (zip_with — deterministic IEEE), and
    * both ranking stages order by (cos DESC, vec_id). Plan at 100 TB:
    * the brute stage keeps its broadcast-queries + partial-top-k
    * shape and is PERSISTED (feedback and the overlap flag both read
    * it); the feedback join touches 3·|queries| rows; the expanded
    * queries re-broadcast — two corpus scans total, the documented
    * cost of one feedback round (the ANN paths are the plug-in swap
    * for both stages, as in [[simMmrAnn]]). */
  def simRocchio(spark: SparkSession, sfDir: String): DataFrame = {
    val e = graft.core.QueryCaches.track(emb(spark, sfDir))
    val corpus = e.select(col("vec_id"), col("embedding"))
    val bt = graft.core.QueryCaches.track(
      SimOps.topkBrute(corpus, querySet(e), 10)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id")))))
    val fb = corpus
      .join(broadcast(bt.filter(col("rk") <= 3).select(col("q_id"), col("vec_id"))),
        Seq("vec_id"))
      .select(col("q_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("q_id"), col("pos"))
      .agg((sum(col("v").cast("double").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
        .cast("double") / count(lit(1))).as("cv"))
      .groupBy(col("q_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x("cv")).as("c_vec"))
    val expanded = querySet(e).join(broadcast(fb), Seq("q_id"))
      .select(col("q_id"),
        zip_with(transform(col("q_vec"), _.cast("double")), col("c_vec"),
          (a, b) => a + b).as("x_vec"))
    corpus.crossJoin(broadcast(expanded))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        SimOps.cosine(col("embedding"), col("x_vec")).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id")))
        .cast("bigint"))
      .filter(col("rk") <= 5)
      .join(bt.filter(col("rk") <= 5)
        .select(col("q_id"), col("vec_id"), lit(true).as("orig")),
        Seq("q_id", "vec_id"), "left")
      .select(col("q_id"), col("rk"), col("vec_id"), col("cos"),
        coalesce(col("orig"), lit(false)).as("in_orig"))
  }

  /** Graded retrieval quality — nDCG@10 of the multi-probe LSH path
    * against brute-force ground truth, per query. [[simRecallReport]]
    * counts set overlap (every hit weighs the same); this row grades
    * the ORDER the index returns — the metric that actually moves when
    * an ANN index starts surfacing rank-9 hits where rank-1 hits
    * belong. Graded relevance = 11 − brute_rank (0 for misses); the
    * log2 position discounts are pinned ⌊1000/log2(i+1)⌋ INTEGER
    * literals and the ideal DCG is their rel-weighted constant 29944,
    * so ndcg_milli is one integral division — no float log at query
    * time, hash-exact cross-engine. Plan: both rankers keep their
    * proven shapes (broadcast query side; corpus bucketed once); the
    * grade join touches 2·k·|queries| rows and every window ranks a
    * ≤k-row partition. */
  def simNdcg(spark: SparkSession, sfDir: String): DataFrame = {
    val e = graft.core.QueryCaches.track(emb(spark, sfDir))
    val corpus = e.select(col("vec_id"), col("embedding"))
    // ⌊1000 / log2(i + 1)⌋ for positions i = 1..10
    val disc = array(Seq(1000L, 630L, 500L, 430L, 386L, 356L, 333L, 315L, 301L, 289L)
      .map(lit): _*)
    val idcgMilli = 29944L // Σ (11 − i)·disc(i), i = 1..10
    val truth = SimOps.topkBrute(corpus, querySet(e), 10)
      .withColumn("rk_b", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id")))
        .cast("bigint"))
      .select(col("q_id"), col("vec_id"), col("rk_b"))
    val sys = SimOps.topkLshMultiProbe(corpus, querySet(e), 10, 4)
      .withColumn("rk_s", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id")))
        .cast("bigint"))
      .select(col("q_id"), col("vec_id"), col("rk_s"))
    sys.join(truth, Seq("q_id", "vec_id"), "left")
      .select(col("q_id"), col("rk_s"),
        coalesce(lit(11L) - col("rk_b"), lit(0L)).as("rel"),
        element_at(disc, col("rk_s").cast("int")).as("disc"))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_returned"),
        sum(col("rel") * col("disc")).as("dcg_milli"))
      .withColumn("ndcg_milli", expr(s"(1000 * dcg_milli) div $idcgMilli"))
  }

  /** Embedding-outlier QC — the cross-table curation pass: documents
    * joined to their embeddings (shared id space), per-LANGUAGE
    * centroids (decimal-exact means, the [[simIvf]] aggregation), then
    * every doc scored by cosine to its own language's centroid and
    * flagged when it sits far from the pack — how curation pipelines
    * catch mislabeled/garbage documents before training. Plan: the
    * doc⋈embedding equi-join shuffles on the id once; centroids are
    * langs × dims (broadcast); scoring is one scan projection. */
  def curateOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = load(spark, sfDir, "documents").select(col("doc_id"), col("lang"))
    val e = emb(spark, sfDir).select(col("vec_id"), col("embedding"))
    // persisted query-scoped: both the centroid aggregate and the
    // scoring join read the doc⋈embedding result — without it the
    // equi-join (and both scans) would execute twice
    val joined = graft.core.QueryCaches.track(
      docs.join(e, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("embedding")))
    // same decimal-exact per-dimension means as SimOps.labelCentroids,
    // keyed by the string lang (labelCentroids casts its key to long).
    // The float widens to DOUBLE before the decimal quantization on
    // BOTH sides: engines disagree on float→decimal directly (shortest
    // decimal representation vs widened-binary rounding), and unlike
    // sim_ivf's count-only confusion matrix this query EXPOSES the raw
    // centroid-derived doubles to the hash.
    val centsByLang = joined.select(col("lang"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("lang"), col("pos"))
      .agg((sum(col("v").cast("double").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
        .cast("double") / count(lit(1))).as("cv"))
      .groupBy(col("lang"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x("cv")).as("c_vec"))
      .select(col("lang").as("c_lang"), col("c_vec"))
    joined.join(broadcast(centsByLang), col("lang") === col("c_lang"))
      .select(col("doc_id"), col("lang"),
        SimOps.cosine(col("embedding"), col("c_vec")).as("cos_centroid"))
      .withColumn("outlier", (col("cos_centroid") < 0.1).cast("boolean"))
  }

  /** IVF posting-list balance audit — the index-health check that
    * decides whether an IVF index's nprobe math holds: a skewed
    * coarse quantizer (one centroid owning most of the corpus) makes
    * "probe 2 of 10 lists" scan half the data, silently erasing the
    * speedup the index exists for. Per centroid: posting-list size,
    * share in milli, and the over-occupancy flag share·k > 2000 (more
    * than 2× the balanced share). One assignment pass ([[simIvf]]'s
    * map-side-combined argmax — one row per vector crosses the
    * shuffle), one |centroids|-bounded rollup, 1-row total broadcast.
    * All-integer surfaces. */
  def simIvfBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val cents = SimOps.labelCentroids(e, "label")
      .select(col("c_id").cast("int").as("c_label"), col("c_vec"))
    val k = lit(10L) // the label-centroid count — the oracle pins it too
    // persisted: the 1-row total and the report both read the ≤k-row
    // posting-list relation — without it the assignment runs twice
    val lists = graft.core.QueryCaches.track(
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("c_label"),
          SimOps.cosine(col("embedding"), col("c_vec")).as("cos"))
        .groupBy(col("vec_id"))
        .agg(max_by(col("c_label"), struct(col("cos"), (-col("c_label")).as("nc"))).as("c_label"))
        .groupBy(col("c_label"))
        .agg(count(lit(1)).as("n")))
    val tot = lists.agg(sum(col("n")).as("total"))
    lists.crossJoin(broadcast(tot))
      .select(col("c_label"), col("n"),
        expr("(1000 * n) div total").as("share_milli"),
        ((k * lit(1000L) * col("n")).cast("bigint") > lit(2000L) * col("total"))
          .as("oversized"))
  }

  /** Cluster-separation silhouette (cosine-margin variant) per label —
    * the partition-quality audit run on any clustering or labeling
    * before trusting it downstream: for each vector, a = cosine to its
    * OWN label centroid, b = the best cosine to any OTHER centroid;
    * margin = a − b (the silhouette numerator in similarity space —
    * positive means correctly placed, negative means the point sits
    * closer to a foreign centroid, the mislabel screen). Per label:
    * size, decimal-exact mean margin, and the misplaced count/share
    * (all-integer milli). Exactness: centroids are the
    * [[curateOutliers]] decimal-mean contract, each point sees k
    * deterministic doubles, MAX and subtraction are exact, the mean
    * rides [[Tables.dsum]]. Plan at 100 TB: centroids are a
    * |labels|×dims relation computed in one map-side-combined pass and
    * broadcast; scoring is a k-fanout map over one corpus scan (the
    * standard assignment cost), the rollup is |labels|-bounded. */
  def simSilhouette(spark: SparkSession, sfDir: String): DataFrame = {
    val e = graft.core.QueryCaches.track(
      emb(spark, sfDir).select(col("vec_id"),
        col("label").cast("bigint").as("lab"), col("embedding")))
    val cents = e.select(col("lab"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("lab"), col("pos"))
      .agg((sum(col("v").cast("double").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
        .cast("double") / count(lit(1))).as("cv"))
      .groupBy(col("lab"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x("cv")).as("c_vec"))
      .select(col("lab").as("c_lab"), col("c_vec"))
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("lab"), col("c_lab"),
        SimOps.cosine(col("embedding"), col("c_vec")).as("cc"))
      .groupBy(col("vec_id"), col("lab"))
      .agg(max(when(col("lab") === col("c_lab"), col("cc"))).as("a"),
        max(when(col("lab") =!= col("c_lab"), col("cc"))).as("b"))
      .groupBy(col("lab"))
      .agg(count(lit(1)).as("n"),
        (sum((col("a") - col("b")).cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast("double") / count(lit(1))).as("mean_margin"),
        sum(when(col("a") < col("b"), lit(1L)).otherwise(lit(0L))).as("n_misplaced"))
      .withColumn("misplaced_milli", expr("(1000 * n_misplaced) div n"))
  }

  /** One k-means (Lloyd) iteration — the semantic-clustering primitive
    * SemDeDup-style curation and IVF index training iterate: k = 8
    * deterministic seeds (the first 8 vectors), every vector assigned
    * to its nearest seed by cosine, then per-cluster centroids
    * recomputed as decimal-exact per-dimension means. The declared row
    * emits per-cluster (size, centroid-component fold) — the fold in
    * pos order pins every centroid dimension to the hash while keeping
    * the output schema scalar. Plan at 100 TB: seeds are k × dims
    * (broadcast), assignment is one scan + a map-side-combined argmax
    * (one row per vector crosses the shuffle — the [[simIvf]] max_by
    * shape), the centroid update aggregates k × dims cells. Iterating
    * is re-running this plan with the output centroids as next seeds. */
  def simKmeans(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir).select(col("vec_id"), col("embedding"))
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("s_id"), col("embedding").as("s_vec"))
    // argmax over the 8 broadcast seeds; first(embedding) is
    // deterministic here — every row in the group carries the same array
    val assigned = e.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("embedding"), col("s_id"),
        SimOps.cosine(col("embedding"), col("s_vec")).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("s_id"), struct(col("cos"), (-col("s_id")).as("ns"))).as("c_id"),
        first(col("embedding")).as("embedding"))
    val cd = assigned
      .select(col("c_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("c_id"), col("pos"))
      .agg(count(lit(1)).as("n"),
        (sum(col("v").cast("double").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast("double") / count(lit(1))).as("cv"))
    cd.groupBy(col("c_id"))
      .agg(max(col("n")).as("n"),
        aggregate(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          x => x("cv")), lit(0.0), (a, v) => a + v).as("c_sum"))
  }

  /** SemDeDup-style semantic dedup — the composition curation pipelines
    * actually run over embeddings: cluster the corpus (here one
    * deterministic Lloyd assignment against the [[simKmeans]] seeds),
    * then find near-duplicates ONLY within a cluster, bucketed by 8-bit
    * SRP inside it, and count what gets dropped (the larger id of each
    * verified pair). Planted exact copies (vec_id + 1e6) land in their
    * original's cluster and bucket by construction, so the green row
    * pins the whole chain: argmax assignment, per-cluster bucketing,
    * pair verification, drop accounting. Plan at 100 TB: seeds
    * broadcast, assignment is the one-row-per-vector argmax, the
    * assigned+bucketed table is computed ONCE (query-scoped persist —
    * it feeds both sides of the pair self-join), and candidates meet
    * only inside (cluster, bucket) — the join is a fixed-width-key
    * equi-join, never all-pairs. */
  def simSemanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir).select(col("vec_id"), col("embedding"))
    val corpus = e.unionAll(e.select((col("vec_id") + SHIFT).as("vec_id"), col("embedding")))
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("s_id"), col("embedding").as("s_vec"))
    val assigned = graft.core.QueryCaches.track(
      corpus.crossJoin(broadcast(seeds))
        .select(col("vec_id"), col("embedding"), col("s_id"),
          SimOps.cosine(col("embedding"), col("s_vec")).as("cos"))
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("embedding"), col("s_id")),
          struct(col("cos"), (-col("s_id")).as("ns"))).as("best"))
        .select(col("vec_id"), col("best.embedding").as("embedding"),
          col("best.s_id").as("c_id"))
        .withColumn("bucket", SimOps.srpBucket(col("embedding"), 8)))
    val pairs = assigned.as("a").join(assigned.as("x"),
        col("a.c_id") === col("x.c_id") && col("a.bucket") === col("x.bucket") &&
          col("a.vec_id") < col("x.vec_id"))
      .filter(SimOps.cosine(col("a.embedding"), col("x.embedding")) >= 0.999)
      .select(col("a.c_id").as("c_id"), col("x.vec_id").as("vec_b"))
    pairs.groupBy(col("c_id"))
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("vec_b")).as("n_dropped"))
  }

  /** Connected components over the EMBEDDING near-dup graph — the
    * cross-pillar composition: [[SimOps.embNearDupPairs]] candidate
    * edges feed the same distributed label-propagation fixpoint the
    * text pillar uses ([[graft.ext.DedupOps.dupClusters]] vs the
    * recursive-CTE oracle). Each vector is planted with TWO duplicates
    * (an exact copy at +1e6 and a float-scaled copy at +2e6 — same
    * direction ⇒ same SRP bucket, cosine ≈ 1), so every component is a
    * 3-clique and the closure genuinely merges multiple edges per
    * node. Scale shape: bucketed pair generation (never all-pairs) +
    * O(diameter) label-propagation rounds, one join + one aggregate
    * each. */
  def simComponents(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir).select(col("vec_id"), col("embedding"))
    val scaled = e.select((col("vec_id") + 2 * SHIFT).as("vec_id"),
      transform(col("embedding"), v => (v * lit(1.0001f)).cast("float")).as("embedding"))
    val corpus = e
      .unionAll(e.select((col("vec_id") + SHIFT).as("vec_id"), col("embedding")))
      .unionAll(scaled)
    val pairs = SimOps.embNearDupPairs(corpus, bits = 16, threshold = 0.999)
      .select(col("vec_a").as("id_a"), col("vec_b").as("id_b"))
    graft.ext.DedupOps.dupClusters(pairs)
  }

  /** Product quantization — the standard ANN compression beyond
    * [[simQuantize]]'s scalar int8: the 64-dim vector splits into
    * M = 8 subvectors of 8 dims, each assigned to its nearest of
    * K = 4 codewords by squared-L2, so a vector stores as 8 2-bit
    * codes (16 bits total vs 256 float bytes). Codewords here are the
    * first 4 vectors' subvectors — deterministic seeds the oracle can
    * spell (production trains them with [[graft.ext.SimOps.kmeans]]
    * per subspace — the same Lloyd loop, M independent runs). The
    * declared row pins the full assignment: an integer code-checksum
    * (Σ code_s · 4^s — every code position lands in the hash) and the
    * decimal-exact total reconstruction error. Plan at 100 TB: the
    * codebook is M×K tiny rows (broadcast); subvector explode is
    * M fixed-width rows per vector; the argmin is a map-side-combined
    * max_by per (vector, subspace) — one row per subspace crosses the
    * shuffle, then one row per vector. L2 folds are spelled in
    * zip-then-left-fold order, IEEE-identical to the oracle. */
  def simPq(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    SimOps.pqEncode(e.select(col("vec_id"), col("embedding")),
        SimOps.pqSeedCodebook(e, kCodes = 4, m = 8, sub = 8), m = 8, sub = 8)
      .groupBy(col("vec_id"))
      .agg(sum(expr("shiftleft(code, 2 * s)")).as("code_key"),
        dsum(col("dist")).as("recon_err"))
  }

  /** ADC search over the PQ index — the paired SEARCH half of
    * [[simPq]]: every 100th vector plays the query set, stays
    * full-precision, and precomputes its distance to each of the
    * M×K codewords; each encoded corpus vector then ranks by the
    * lookup-SUM of its codes' entries (asymmetric distance), top-5
    * per query, ties → lowest vec_id. The sum is decimal-quantized
    * (DECIMAL(38,6)) so it is associative — identical at any shuffle
    * order, and identical across engines, which is what lets a DuckDB
    * oracle hash-match an approximate-distance RANKING. Plan at
    * 100 TB: the codebook broadcasts into the encode argmin; the
    * (queries × M × K) distance table broadcasts into the code scan;
    * the per-(query, vector) sum is map-side combined; the final
    * top-k is a partial-then-global WindowGroupLimit — the corpus
    * never shuffles vectors, only (q_id, vec_id, partial sum) rows. */
  def simPqTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val corpus = e.select(col("vec_id"), col("embedding"))
    val cb = SimOps.pqSeedCodebook(e, kCodes = 4, m = 8, sub = 8)
    val codes = SimOps.pqEncode(corpus, cb, m = 8, sub = 8)
      .select(col("vec_id"), col("s"), col("code"))
    val queries = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    SimOps.pqTopk(codes, queries, cb, k = 5, m = 8, sub = 8)
  }

  /** Reciprocal-rank fusion — the hybrid-retrieval merge every RAG
    * stack runs when two rankers disagree: the exact cosine top-10
    * (the [[simTopk]] contract) and the compressed ADC top-10 over the
    * PQ index (the [[simPqTopk]] contract) fuse per (query, candidate)
    * as Σ 1/(60 + rank), kept integer-exact as
    * `1000000 div (60 + rank)` micro-units so the fused ORDER is
    * hashable cross-engine (RRF's whole point is that it needs only
    * ranks, never the incomparable raw scores — which is also what
    * makes it exactly oracle-checkable). Candidates missing from one
    * list contribute 0 from it (rank surfaced as 0 = absent). Plan at
    * 100 TB: both rankers keep their own proven shapes (broadcast
    * query side + partial top-k; broadcast distance table +
    * map-side-combined code sums); the fusion itself touches only
    * 2·k·|queries| rows — a full-outer join and a bounded per-query
    * window. */
  def simRrf(spark: SparkSession, sfDir: String): DataFrame = {
    val e = graft.core.QueryCaches.track(emb(spark, sfDir))
    val corpus = e.select(col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val dense = SimOps.topkBrute(corpus, queries, 10)
      .withColumn("rk_d", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id")))
        .cast("bigint"))
      .select(col("q_id"), col("vec_id"), col("rk_d"))
    val cb = SimOps.pqSeedCodebook(e, kCodes = 4, m = 8, sub = 8)
    val codes = SimOps.pqEncode(corpus, cb, m = 8, sub = 8)
      .select(col("vec_id"), col("s"), col("code"))
    val adc = SimOps.pqTopk(codes, queries, cb, k = 10, m = 8, sub = 8)
      .withColumn("rk_a", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adist"), col("vec_id")))
        .cast("bigint"))
      .select(col("q_id"), col("vec_id"), col("rk_a"))
    dense.join(adc, Seq("q_id", "vec_id"), "full_outer")
      .select(col("q_id"), col("vec_id"),
        (coalesce(expr("1000000 div (60 + rk_d)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + rk_a)"), lit(0L))).as("rrf_micro"),
        coalesce(col("rk_d"), lit(0L)).as("rk_dense"),
        coalesce(col("rk_a"), lit(0L)).as("rk_adc"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rrf_micro").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .drop("rk")
  }

  /** IVF-PQ — the production ANN index composition (the FAISS
    * `IVFx,PQy` shape) assembled from this module's oracle-proven
    * parts: coarse-quantize every vector to its nearest label
    * centroid ([[simIvf]]'s argmax), PQ-encode the RESIDUAL v − c
    * (residual encoding is what makes PQ codes sharp — residuals
    * cluster near 0 so the codebook's resolution concentrates where
    * the data is), then ADC-search with the inverted-list
    * restriction ([[SimOps.pqTopkWithin]]): each query (every 100th
    * vector, nprobe = 1) scores ONLY its own cell's codes. Residuals
    * are quantized to an INTEGER milli-grid — floor((v − c)·1000) —
    * before encoding: scalar-quantize-then-PQ is standard practice,
    * and here it is also what makes a three-stage approximate index
    * hash-exact cross-engine. (floor on a double is pure IEEE
    * arithmetic, identical everywhere — unlike the double→decimal
    * cast, whose shortest-repr rounding diverges between engines on
    * the full-precision doubles residual subtraction produces; every
    * downstream distance is then integer-valued and exact. Measured:
    * without the grid, adist drifted 1e-6 on ~2 of 500 rows.) Plan:
    * centroids + seed
    * codebook + query distance tables broadcast; the residual
    * relation is persisted query-scoped (codebook seed, encode, and
    * query branches all read it); corpus-sized exchanges carry only
    * (vec_id, cell, s, code) fixed-width rows. */
  def simIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val cents = SimOps.labelCentroids(e, "label")
      .select(col("c_id").cast("int").as("c_label"), col("c_vec"))
    val best = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("c_label"),
        SimOps.cosine(col("embedding"), col("c_vec")).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("c_label"), struct(col("cos"), (-col("c_label")).as("nc"))).as("c_label"))
    val resid = graft.core.QueryCaches.track(
      e.select(col("vec_id"), col("embedding")).join(best, "vec_id")
        .join(broadcast(cents), "c_label")
        .select(col("vec_id"), col("c_label"),
          zip_with(col("embedding"), col("c_vec"),
            (a, b) => floor((a.cast("double") - b) * lit(1000.0)).cast("bigint"))
            .as("embedding")))
    val cb = SimOps.pqSeedCodebook(resid, kCodes = 4, m = 8, sub = 8)
    val codes = SimOps.pqEncode(resid.select(col("vec_id"), col("embedding")), cb, m = 8, sub = 8)
      .join(resid.select(col("vec_id"), col("c_label")), "vec_id")
    val queries = resid.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("c_label"), col("embedding").as("q_vec"))
    SimOps.pqTopkWithin(codes, queries, cb, k = 5, m = 8, sub = 8, listCol = "c_label")
  }

  /** PERSISTED ANN index lifecycle — the maintenance row behind
    * [[simIvfPq]]: the index artifacts (coarse centroids, PQ codebook,
    * and the (vec_id, c_label, s, code) code rows) are WRITTEN ONCE as
    * catalog tables — codes via [[graft.ext.LayoutOps.indexTable]]
    * (directory-partitioned by the IVF list, bucketed by vec_id) — and
    * the search runs entirely FROM THE REOPENED TABLES: queries arrive
    * fresh from the raw corpus, are assigned and residualed against
    * the PERSISTED centroids, and score against the PERSISTED codes
    * through the persisted codebook. The oracle is [[simIvfPq]]'s
    * from-scratch spelling — the green hash IS the proof that
    * search-from-index equals search-from-scratch (build determinism +
    * exact parquet round-trip: doubles bit-exact, residuals integer).
    * 100 TB posture: this is the shape that amortizes the expensive
    * build — the per-query cost is a partition-PRUNED scan of one
    * list's directory, a broadcast distance-table join, and an ADC
    * aggregation that needs NO exchange because the bucket
    * partitioning (vec_id) already clusters the grouping keys
    * (PlanSpec pins the exchange-free read path). Table names carry
    * the sfDir hash (one JVM, several scale factors). */
  /** Build-once accessor for the persisted IVF-PQ index artifacts:
    * (centroids, codebook, codes) as reopened catalog tables — the
    * shared substrate of [[simIndexPersist]] (search the index) and
    * [[simIndexDelta]] (search index ∪ unindexed delta). */
  private def ivfPqIndex(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.ext.LayoutOps
    val tag = java.lang.Integer.toHexString(sfDir.hashCode)
    val e = emb(spark, sfDir)
    val cents = SimOps.labelCentroids(e, "label")
      .select(col("c_id").cast("int").as("c_label"), col("c_vec"))
    val centsT = LayoutOps.bucketedTable(cents, s"graft_ivfpq_cents_$tag",
      "c_label", buckets = 2)
    val best = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("c_label"),
        SimOps.cosine(col("embedding"), col("c_vec")).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("c_label"), struct(col("cos"), (-col("c_label")).as("nc"))).as("c_label"))
    val resid = graft.core.QueryCaches.track(
      e.select(col("vec_id"), col("embedding")).join(best, "vec_id")
        .join(broadcast(cents), "c_label")
        .select(col("vec_id"), col("c_label"),
          zip_with(col("embedding"), col("c_vec"),
            (a, b) => floor((a.cast("double") - b) * lit(1000.0)).cast("bigint"))
            .as("embedding")))
    val cb = SimOps.pqSeedCodebook(resid, kCodes = 4, m = 8, sub = 8)
    val cbT = LayoutOps.bucketedTable(cb, s"graft_ivfpq_cb_$tag", "s", buckets = 2)
    val codes = SimOps.pqEncode(resid.select(col("vec_id"), col("embedding")),
        cb, m = 8, sub = 8)
      .join(resid.select(col("vec_id"), col("c_label")), "vec_id")
      .select(col("vec_id"), col("c_label"), col("s"), col("code"))
    val codesT = LayoutOps.indexTable(codes, s"graft_ivfpq_codes_$tag",
      "c_label", "vec_id", buckets = 8)
    (centsT, cbT, codesT)
  }

  /** Assign fresh vectors to the PERSISTED centroids and emit their
    * integer residuals — the shared query-side / delta-side prep of
    * the index rows (`outId`/`outVec` name the id and residual cols). */
  private def assignResid(vecs: DataFrame, centsT: DataFrame, idCol: String,
      vecCol: String, outId: String, outVec: String): DataFrame = {
    val bestC = vecs.crossJoin(broadcast(centsT))
      .select(col(idCol), col("c_label"),
        SimOps.cosine(col(vecCol), col("c_vec")).as("cos"))
      .groupBy(col(idCol))
      .agg(max_by(col("c_label"), struct(col("cos"), (-col("c_label")).as("nc"))).as("c_label"))
    vecs.join(bestC, idCol)
      .join(broadcast(centsT), "c_label")
      .select(col(idCol).as(outId), col("c_label"),
        zip_with(col(vecCol), col("c_vec"),
          (a, b) => floor((a.cast("double") - b) * lit(1000.0)).cast("bigint"))
          .as(outVec))
  }

  def simIndexPersist(spark: SparkSession, sfDir: String): DataFrame = {
    val (centsT, cbT, codesT) = ivfPqIndex(spark, sfDir)
    // ---- search (reads ONLY the reopened tables + fresh query rows)
    val q0 = emb(spark, sfDir).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_raw"))
    val qResid = assignResid(q0, centsT, "q_id", "q_raw", "q_id", "q_vec")
    SimOps.pqTopkWithin(codesT, qResid, cbT, k = 5, m = 8, sub = 8,
      listCol = "c_label")
  }

  /** Lambda-architecture ANN search — the persisted index PLUS an
    * UNINDEXED delta batch in one query: fresh vectors (here: reversed
    * embeddings under shifted ids — content the index has never seen)
    * are assigned and encoded ON THE FLY against the persisted
    * centroids/codebook, their code rows UNION with the reopened index
    * table, and the ADC top-k runs over both — the serving pattern
    * between index rebuilds (new data searchable immediately, index
    * rewritten on the maintenance cadence). Nothing is retrained: the
    * oracle recomputes everything from scratch over corpus ∪ delta
    * with centroids/codebook drawn from the ORIGINAL corpus only, so
    * the green hash pins exactly the "stale coarse model, fresh data"
    * semantics this architecture promises. Queries are original-corpus
    * rows only (`vec_id < SHIFT`). */
  def simIndexDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val (centsT, cbT, codesT) = ivfPqIndex(spark, sfDir)
    val e = emb(spark, sfDir)
    val delta = e.filter(col("vec_id") % 7 === 3)
      .select((col("vec_id") + SHIFT).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    val dResid = graft.core.QueryCaches.track(
      assignResid(delta, centsT, "vec_id", "embedding", "vec_id", "embedding"))
    val dCodes = SimOps.pqEncode(dResid.select(col("vec_id"), col("embedding")),
        cbT, m = 8, sub = 8)
      .join(dResid.select(col("vec_id"), col("c_label")), "vec_id")
      .select(col("vec_id"), col("c_label"), col("s"), col("code"))
    val allCodes = codesT.select(col("vec_id"), col("c_label"), col("s"), col("code"))
      .unionAll(dCodes)
    val q0 = e.filter(col("vec_id") % 100 === 0 && col("vec_id") < SHIFT)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_raw"))
    val qResid = assignResid(q0, centsT, "q_id", "q_raw", "q_id", "q_vec")
    SimOps.pqTopkWithin(allCodes, qResid, cbT, k = 5, m = 8, sub = 8,
      listCol = "c_label")
  }

  /** Index COMPACTION — the third act of the persisted-index
    * lifecycle after [[simIndexPersist]] (build+search) and
    * [[simIndexDelta]] (serve base ∪ unindexed delta): the delta batch
    * is folded INTO the index. The delta's code rows are produced
    * exactly as the serving path produces them (assign + residual +
    * PQ-encode against the PERSISTED coarse model — nothing is
    * retrained), unioned with the reopened generation-1 code table,
    * and REWRITTEN as a generation-2 [[graft.ext.LayoutOps
    * .indexTable]] (directory-partitioned by IVF list, bucketed by
    * vec_id — the same layout, so every read-path property carries
    * over). The search then runs from ONLY the reopened generation-2
    * table; the oracle is [[simIndexDelta]]'s from-scratch corpus ∪
    * delta spelling, so the green hash pins
    * search-after-compaction == lambda-serving == from-scratch. At
    * 100 TB this is the maintenance-cadence job: one scan of base
    * codes + the (small) delta encode, one partitioned/bucketed
    * write, zero recompute of the standing corpus — and serving
    * returns to the single-table exchange-free plan (PlanSpec pins
    * the generation-2 read path like generation 1's). */
  def simIndexCompact(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ext.LayoutOps
    val (centsT, cbT, codesT) = ivfPqIndex(spark, sfDir)
    val tag = java.lang.Integer.toHexString(sfDir.hashCode)
    val e = emb(spark, sfDir)
    val delta = e.filter(col("vec_id") % 7 === 3)
      .select((col("vec_id") + SHIFT).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    val dResid = graft.core.QueryCaches.track(
      assignResid(delta, centsT, "vec_id", "embedding", "vec_id", "embedding"))
    val dCodes = SimOps.pqEncode(dResid.select(col("vec_id"), col("embedding")),
        cbT, m = 8, sub = 8)
      .join(dResid.select(col("vec_id"), col("c_label")), "vec_id")
      .select(col("vec_id"), col("c_label"), col("s"), col("code"))
    val mergedT = LayoutOps.indexTable(
      codesT.select(col("vec_id"), col("c_label"), col("s"), col("code"))
        .unionAll(dCodes),
      s"graft_ivfpq_codes_g2_$tag", "c_label", "vec_id", buckets = 8)
    val q0 = e.filter(col("vec_id") % 100 === 0 && col("vec_id") < SHIFT)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_raw"))
    val qResid = assignResid(q0, centsT, "q_id", "q_raw", "q_id", "q_vec")
    SimOps.pqTopkWithin(mergedT, qResid, cbT, k = 5, m = 8, sub = 8,
      listCol = "c_label")
  }

  /** Index DELETES — the fourth act of the persisted-index lifecycle:
    * production indexes also RETIRE vectors (takedowns, TTL'd content,
    * right-to-erasure), and the maintenance job that serves them is a
    * tombstone fold, not a rebuild. The delete manifest (every 11th ≡ 5
    * original id — fixed-width ids, broadcastable at any real takedown
    * volume) anti-joins the reopened generation-1 code table and the
    * SURVIVORS rewrite as a generation-3 [[graft.ext.LayoutOps
    * .indexTable]] (same layout — every read-path property carries
    * over); the coarse centroids and PQ codebook are NOT retrained
    * (deletion must not shift the standing corpus's geometry — the
    * lambda-architecture contract in reverse). Search runs from ONLY
    * the reopened generation-3 table with surviving queries; the
    * oracle recomputes from scratch over corpus∖deleted with the FULL
    * corpus's coarse model, so the green hash pins
    * search-after-delete == from-scratch-on-survivors under one hash.
    * At 100 TB: one pruned scan of the code table + a broadcast
    * anti-join + one partitioned write — no embedding is ever
    * re-encoded, and the deleted ids can never surface in a result
    * (the compliance property the row exists to prove). */
  def simIndexDelete(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ext.LayoutOps
    val (centsT, cbT, codesT) = ivfPqIndex(spark, sfDir)
    val tag = java.lang.Integer.toHexString(sfDir.hashCode)
    val e = emb(spark, sfDir)
    val tombs = e.filter(col("vec_id") % 11 === 5)
      .select(col("vec_id").as("del_id"))
    val g3 = LayoutOps.indexTable(
      codesT.select(col("vec_id"), col("c_label"), col("s"), col("code"))
        .join(broadcast(tombs), col("vec_id") === col("del_id"), "left_anti"),
      s"graft_ivfpq_codes_g3_$tag", "c_label", "vec_id", buckets = 8)
    val q0 = e.filter(col("vec_id") % 100 === 0 && col("vec_id") % 11 =!= 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_raw"))
    val qResid = assignResid(q0, centsT, "q_id", "q_raw", "q_id", "q_vec")
    SimOps.pqTopkWithin(g3, qResid, cbT, k = 5, m = 8, sub = 8,
      listCol = "c_label")
  }

  /** Mutual-kNN edge set, oriented u < v: an (undirected) edge survives
    * only when EACH endpoint ranks the other inside its top-5
    * ([[SimOps.knnGraph]] both directions). Mutuality is the standard
    * symmetrization for kNN graphs feeding clustering/propagation — it
    * strips the asymmetric "hub" edges that make plain kNN graphs
    * skew-prone. Plan shape: the directed graph is computed ONCE
    * (persisted query-scoped — the mutual join reads it twice), the
    * mutual check is a self equi-join on the reversed key pair, and
    * every downstream consumer sees O(N·k) fixed-width edge rows. */
  private def mutualEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val g = graft.core.QueryCaches.track(
      SimOps.knnGraph(
        emb(spark, sfDir).select(col("vec_id"), col("embedding")), k = 5, bits = 4)
        .select(col("vec_id"), col("nbr_id")))
    g.as("f").join(g.as("r"),
        col("f.vec_id") === col("r.nbr_id") && col("f.nbr_id") === col("r.vec_id"))
      .filter(col("f.vec_id") < col("f.nbr_id"))
      .select(col("f.vec_id").as("u"), col("f.nbr_id").as("v"))
  }

  /** MMR diversified retrieval (Carbonell-Goldstein maximal marginal
    * relevance) — the re-ranking pass real retrieval stacks run AFTER
    * ANN: from each query's top-8 relevance candidates, greedily pick 4
    * maximizing λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) (λ = 0.7), so
    * near-duplicate hits stop crowding out coverage. The greedy loop is
    * UNROLLED into 4 dataframe stages (rank-1 window argmax each, ties
    * to the smaller vec_id — deterministic, and the identical unrolled
    * CTE chain is the oracle): selection depth is a product constant,
    * not data — this is a fixed-depth plan, no driver iteration. Scale:
    * candidates are |queries|×8 rows (the expensive part is the ANN
    * stage that produced them), the pairwise-sim relation |queries|×56,
    * and every greedy stage joins on q_id over those bounded relations
    * — at 100 TB the re-rank costs the same as at sf0.01 once
    * candidates exist. Both persisted query-scoped: all 4 stages fold
    * the same two relations. THIS row's candidate stage is brute
    * top-8 — the ground-truth contract; [[simMmrAnn]] is the
    * LSH-candidate operating path, separately oracle-gated. */
  def simMmr(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val corpus = e.select(col("vec_id"), col("embedding"))
    mmrRerank(SimOps.topkBrute(corpus, querySet(e), 8), corpus)
  }

  /** [[simMmr]] fed by the SRP-LSH candidate stage instead of the
    * brute-force scan — the 100 TB operating path: candidate
    * generation drops from O(|corpus|·|queries|) cosine evaluations to
    * one bucket equi-join (corpus/2^bits expected candidates per
    * query, the [[simLsh]] plan), and the re-rank is IDENTICAL — the
    * same 4-stage unrolled greedy over the bounded candidate/pair
    * relations. Keeps its own oracle hash (the [[simRecallReport]]
    * pattern: the deterministic SRP spelling is reproduced in SQL), so
    * the brute row stays the ground-truth contract and this row proves
    * the swap end to end. Queries whose bucket holds fewer than 4
    * candidates emit that many ranks (both engines agree). */
  def simMmrAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val corpus = e.select(col("vec_id"), col("embedding"))
    mmrRerank(SimOps.topkLsh(corpus, querySet(e), 8, 4), corpus)
  }

  /** The shared MMR greedy re-rank over a candidate relation
    * (q_id, vec_id, cos) — see [[simMmr]]'s scaladoc for the greedy
    * contract. r18 fold (the sim_beam_search single-state-relation
    * pattern, guide §2.4): instead of 4 unrolled stages each paying an
    * anti-join + pairwise max-sim join + groupBy + window over three
    * per-stage persisted `selected` relations, ONE state relation
    * (q_id, vec_id, cos, sims, m, picked_rank, mmr_score) carries the
    * whole greedy: each candidate row holds its pairwise sims to the
    * other ≤7 candidates as an in-row map, `m` is the running
    * max-sim-to-selected (greatest-folded — double max is exact, so m
    * equals the oracle's MAX over the selected set bit-for-bit), and
    * each round is ONE window over q_id: rank the unpicked rows by the
    * identical (score DESC, vec_id) comparator, mark the top row
    * picked, and merge the picked row's sim into every surviving
    * row's m via an O(1) map lookup. No per-round join, no per-round
    * persist; all 4 windows share one q_id exchange. Score expressions
    * are byte-identical to the unrolled form (lam·cos, then
    * lam·cos − (1−lam)·m), so the oracle hash is unchanged. */
  private def mmrRerank(cand0: DataFrame, corpus: DataFrame): DataFrame = {
    val lam = 0.7
    val cand = graft.core.QueryCaches.track(cand0)
    val ce = cand.join(corpus, "vec_id")
    val pair = ce.select(col("q_id"), col("vec_id").as("a_id"), col("embedding").as("a_emb"))
      .join(ce.select(col("q_id"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb")), Seq("q_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"),
        graft.functions.HashExprs.cosineSim(col("a_emb"), col("b_emb")).as("sim"))
    val sims = pair.groupBy(col("q_id"), col("a_id"))
      .agg(map_from_entries(collect_list(struct(col("b_id"), col("sim")))).as("sims"))
      .select(col("q_id").as("sq_id"), col("a_id"), col("sims"))
    // left join: a query whose bucket held a single candidate has no
    // pairs — its sims map is null and is never consulted (that lone
    // row is picked in round 1 and m never updates).
    var state = cand
      .join(sims, col("q_id") === col("sq_id") && col("vec_id") === col("a_id"), "left")
      .select(col("q_id"), col("vec_id"), col("cos"), col("sims"),
        lit(null).cast("double").as("m"),
        lit(null).cast("bigint").as("picked_rank"),
        lit(null).cast("double").as("mmr_score"))
    // Unpicked rows sort first (isNotNull: false < true), then the
    // EXACT comparator of the unrolled form: score DESC, vec_id. Picked
    // rows carry a null score and sort last within the picked band —
    // irrelevant, only rk==1 on an unpicked top row acts.
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("picked_rank").isNotNull.asc, col("score").desc, col("vec_id").asc)
    for (k <- 1 to 4) {
      val scored = state.withColumn("score",
        when(col("picked_rank").isNull,
          when(col("m").isNull, lit(lam) * col("cos"))
            .otherwise(lit(lam) * col("cos") - lit(1.0 - lam) * col("m"))))
      val win = scored
        .withColumn("rk", row_number().over(w))
        .withColumn("top_id", first(col("vec_id")).over(w))
        .withColumn("top_unpicked", first(col("picked_rank")).over(w).isNull)
      state = win.select(col("q_id"), col("vec_id"), col("cos"), col("sims"),
        when(col("picked_rank").isNull && col("top_unpicked") && col("rk") =!= 1,
          greatest(col("m"), element_at(col("sims"), col("top_id"))))
          .otherwise(col("m")).as("m"),
        when(col("picked_rank").isNull && col("rk") === 1, lit(k.toLong))
          .otherwise(col("picked_rank")).as("picked_rank"),
        when(col("picked_rank").isNull && col("rk") === 1, col("score"))
          .otherwise(col("mmr_score")).as("mmr_score"))
    }
    state.filter(col("picked_rank").isNotNull)
      .select(col("q_id"), col("picked_rank").as("rank"), col("vec_id"),
        col("cos").as("rel"), col("mmr_score"))
  }

  /** Common-neighbor link prediction over the mutual-kNN graph — the
    * recommender/graph-completion op beside [[simTriangles]]'s quality
    * metric: for every NON-edge pair sharing ≥2 neighbors, score by
    * common-neighbor count with the Jaccard of neighborhoods in milli
    * units (1000·|common| div (deg_u + deg_v − |common|) — all
    * integers), and report the global top-20. Wedge enumeration is the
    * same two-hop equi-join as the triangle count (bounded by Σ deg²,
    * deg ≤ k = 5 by construction), existing edges leave via one
    * left-anti join on the oriented pair, and the global top-20 plans
    * as a partial WindowGroupLimit — each task forwards ≤20 rows. At
    * 100 TB the kNN-graph build dominates (see [[SimOps.knnGraph]]);
    * prediction itself never touches an embedding again. */
  def simLinkPredict(spark: SparkSession, sfDir: String): DataFrame = {
    val m = graft.core.QueryCaches.track(mutualEdges(spark, sfDir))
    val adj = graft.core.QueryCaches.track(
      m.union(m.select(col("v").as("u"), col("u").as("v"))))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val cand = adj.as("x").join(adj.as("y"),
        col("x.v") === col("y.u") && col("x.u") < col("y.v"))
      .groupBy(col("x.u").as("u"), col("y.v").as("v"))
      .agg(count(lit(1)).as("common"))
      .join(m, Seq("u", "v"), "left_anti")
      .filter(col("common") >= 2L)
    val scored = cand
      .join(deg.select(col("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("deg_v")), Seq("v"))
      .withColumn("jaccard_milli",
        expr("CAST((1000 * common) div (deg_u + deg_v - common) AS BIGINT)"))
    scored.withColumn("rk", row_number().over(
        Window.orderBy(col("common").desc, col("u"), col("v"))).cast("bigint"))
      .filter(col("rk") <= 20)
      .select(col("rk"), col("u"), col("v"), col("common"),
        col("deg_u"), col("deg_v"), col("jaccard_milli"))
  }

  /** Distributed triangle counting over the mutual-kNN graph — the
    * classic graph-quality metric (clustering coefficient numerator)
    * for embedding-space neighborhoods. The u<v orientation makes each
    * triangle (a<b<c) appear exactly once as edges (a,b),(b,c),(a,c):
    * two equi-joins keyed on a shared vertex, no enumeration of
    * wedges beyond what the joins produce. Per-vertex degree is
    * bounded by k (=5) by construction, so the wedge join carries at
    * most k²/2 rows per vertex — no skew guard needed at any corpus
    * size. Output: per-vertex triangle membership counts. */
  def simTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    val m = graft.core.QueryCaches.track(mutualEdges(spark, sfDir))
    val tri = m.as("ab").join(m.as("bc"), col("ab.v") === col("bc.u"))
      .join(m.as("ac"),
        col("ab.u") === col("ac.u") && col("bc.v") === col("ac.v"))
      .select(col("ab.u").as("a"), col("ab.v").as("b"), col("bc.v").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_tri"))
  }

  /** Per-vertex local clustering coefficient — triangles normalized by
    * possible wedges, C(v) = 2·tri(v) / (deg(v)·(deg(v)−1)): the
    * neighborhood-density metric that separates hub-spoke regions
    * (C→0) from clique-like near-dup clusters (C→1) on the mutual-kNN
    * graph, completing [[simTriangles]] (which reports the raw
    * numerator). Exact integer numerator/denominator columns carry the
    * value (one IEEE division for the reader-friendly double — same
    * num/den discipline as events_trend's slope). Plan shape: the
    * triangle join is the a<b<c ordered double equi-join (each
    * triangle counted once), degrees are one exploded map-side count
    * over the SAME persisted edge relation, and the final stitch is a
    * vertex-keyed left join — deg≥2 filters the undefined
    * denominator. At 100 TB the mutual-kNN degree is capped by k, so
    * every relation here is O(N·k): clustering coefficients on a
    * bounded-degree graph are linear work, the reason this metric is
    * routinely computed corpus-wide. */
  def simClusteringCoeff(spark: SparkSession, sfDir: String): DataFrame = {
    val m = graft.core.QueryCaches.track(mutualEdges(spark, sfDir))
    val tri = m.as("ab").join(m.as("bc"), col("ab.v") === col("bc.u"))
      .join(m.as("ac"),
        col("ab.u") === col("ac.u") && col("bc.v") === col("ac.v"))
      .select(col("ab.u").as("a"), col("ab.v").as("b"), col("bc.v").as("c"))
    val ntri = tri.select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_tri"))
    val deg = m.select(explode(array(col("u"), col("v"))).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(ntri, Seq("vec_id"), "left")
      .select(col("vec_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        (coalesce(col("n_tri"), lit(0L)) * 2).as("cc_num"),
        (col("deg") * (col("deg") - 1)).as("cc_den"))
      .withColumn("coeff", col("cc_num").cast("double") / col("cc_den").cast("double"))
  }

  /** Bounded-depth min-label propagation over the mutual-kNN graph:
    * labels start as vec_id and each of 3 rounds replaces a vertex's
    * label with the minimum over its closed neighborhood — after r
    * rounds label(v) = min id within graph distance ≤ r, i.e.
    * fixed-horizon community seeds (the bounded cousin of the
    * [[simComponents]] fixpoint, useful when diameter-long convergence
    * is not wanted). Each round is ONE equi-join of the adjacency list
    * with the label table plus ONE min-aggregate — the Pregel
    * iteration expressed as joins; adjacency (edges both directions +
    * self-loops, O(N·k) rows) is persisted once and reused by all
    * rounds. */
  def simLabelProp(spark: SparkSession, sfDir: String): DataFrame =
    labelPropOver(emb(spark, sfDir).select(col("vec_id")),
      mutualEdges(spark, sfDir))

  /** [[simLabelProp]]'s body over a CALLER-SUPPLIED edge relation —
    * r17 (guide §1.2 step 1, don't compute things twice): simModularity
    * previously called simLabelProp(spark, sfDir), which rebuilt
    * mutualEdges — and with it the whole kNN-graph candidate pass, the
    * query's dominant cost at scale — a second time inside one query.
    * Sharing the caller's (persisted) edge relation halves that. */
  private def labelPropOver(ids: DataFrame, m: DataFrame): DataFrame = {
    val adj = graft.core.QueryCaches.track(
      m.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(m.select(col("v").as("src"), col("u").as("dst")))
        .unionAll(ids.select(col("vec_id").as("src"), col("vec_id").as("dst"))))
    var labels = ids.select(col("vec_id").as("id"), col("vec_id").as("label"))
    for (_ <- 1 to 3)
      labels = adj.join(labels, col("dst") === col("id"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("label"))
        .select(col("src").as("id"), col("label"))
    labels.select(col("id").as("vec_id"), col("label"))
  }

  /** Community-quality audit: Newman MODULARITY of the partition
    * [[simLabelProp]] produces, integer-exact — the score that tells a
    * pipeline whether its label-prop/component clusters are real
    * structure or noise before acting on them. Per community c:
    * q_num = 4·m·e_c − d_c² (Q = Σ q_num / 4m²), where e_c = intra
    * edges, d_c = degree mass, m = |edges| — all three from ONE
    * persisted edge relation (edge-labeled via two vertex equi-joins,
    * degrees via the coverage explode) and the labels relation both
    * aggregations share. Everything is int64: exact while
    * m < 1.52e9 edges (4m² < 2^63 — a 300M-vertex k=5 mutual graph;
    * past that, hoist q_num to DECIMAL(38,0) internally, same plan).
    * Scale: O(N·k) relations end to end, label-keyed rollups;
    * communities-count output rows. */
  def simModularity(spark: SparkSession, sfDir: String): DataFrame = {
    val m = graft.core.QueryCaches.track(mutualEdges(spark, sfDir))
    // r17: share THIS query's persisted edge relation with the label
    // pass — simLabelProp(spark, sfDir) would rebuild mutualEdges (and
    // the kNN graph behind it) a second time inside this one query.
    val labels = graft.core.QueryCaches.track(
      labelPropOver(emb(spark, sfDir).select(col("vec_id")), m))
    val mTot = m.agg(count(lit(1)).as("m_edges"))
    val eIn = m
      .join(labels.select(col("vec_id").as("u"), col("label").as("lu")), "u")
      .join(labels.select(col("vec_id").as("v"), col("label").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("e_in"))
    val deg = m.select(explode(array(col("u"), col("v"))).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("deg"))
    labels
      .join(deg, Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("deg"), lit(0L))).as("d_sum"))
      .join(eIn, Seq("label"), "left")
      .select(col("label"), col("n_nodes"), col("d_sum"),
        coalesce(col("e_in"), lit(0L)).as("e_in"))
      .crossJoin(broadcast(mTot))
      .withColumn("q_num", expr("4 * m_edges * e_in - d_sum * d_sum"))
  }

  /** Integer-exact PageRank over the mutual-kNN graph — the canonical
    * centrality beside [[simTriangles]]/[[simLabelProp]], closing the
    * graph-analytics suite. Three damped rounds (d = 85/100), spelled
    * ENTIRELY in 64-bit integer arithmetic so both engines agree
    * bit-exactly: scores live at scale 10^12, each round is
    * pr' = (15·S) div (100·N) + (85·Σ_{u→v} pr(u) div deg(u)) div 100
    * with truncating division on non-negative operands (identical in
    * Spark `div` and DuckDB `//`). Dangling mass is dropped (isolated
    * vertices keep the teleport term only) — the standard simplified
    * formulation, declared by the oracle. Scale posture: identical to
    * label-prop — contributions are ONE vertex-keyed equi-join +
    * map-side-combined sum per round (3 shuffles of the edge list
    * total, never all-pairs); the node count is one collected long
    * (the kmeans bounded-scalar sync), folding the teleport term to a
    * literal. */
  def simPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val Scale = 1000000000000L
    val ids = graft.core.QueryCaches.track(
      emb(spark, sfDir).select(col("vec_id").as("id")))
    val m = mutualEdges(spark, sfDir)
    // adj ⋈ deg pre-joined ONCE outside the loop (deg is per-vertex
    // constant across rounds — joining it per round tripled the join
    // count); node count collected eagerly like the kmeans centroid
    // sync (one long — bounded scalar, not a data collect), so the
    // teleport term folds to a literal instead of re-broadcasting a
    // 1-row aggregate every round.
    val adjDeg = graft.core.QueryCaches.track(
      m.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(m.select(col("v").as("src"), col("u").as("dst")))
        .withColumn("deg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src")))))
    val nNodes = ids.count()
    val teleport = (15L * Scale) / (100L * nNodes)
    var pr = ids.select(col("id"), lit(Scale / nNodes).as("pr"))
    for (_ <- 1 to 3) {
      val contrib = adjDeg
        .join(pr.select(col("id").as("src"), col("pr").as("ppr")), "src")
        .groupBy(col("dst"))
        .agg(sum(expr("ppr div deg")).as("sc"))
        .select(col("dst").as("id"), col("sc"))
      pr = ids.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(teleport) +
            expr("(85 * coalesce(sc, CAST(0 AS BIGINT))) div 100")).as("pr"))
    }
    pr.select(col("id").as("vec_id"), col("pr"))
  }

  /** Personalized PageRank — [[simPagerank]]'s restart mass pinned to
    * ONE seed vertex (the smallest vec_id, a collected bounded scalar
    * like the node count): pr' = (seed ? (15·S) div 100 : 0) +
    * (85·Σ contrib) div 100, three rounds, identical integer algebra.
    * This is the "related items for THIS item" ranking (random walk
    * with restart) — global PageRank answers "important anywhere",
    * PPR answers "important NEAR the seed". The sparsity of the walk
    * is exploited structurally: each round joins only the POSITIVE-
    * mass frontier against the edge list (zero-mass vertices
    * contribute 0 div deg = 0 — dropping them is output-identical and
    * keeps early-round shuffles at frontier width, the locality that
    * makes PPR cheap at 100 TB where the global rank is not). The
    * oracle spells the same three unrolled rounds without the frontier
    * filter — the green hash proves the filter's equivalence. */
  def simPpr(spark: SparkSession, sfDir: String): DataFrame = {
    val Scale = 1000000000000L
    val ids = graft.core.QueryCaches.track(
      emb(spark, sfDir).select(col("vec_id").as("id")))
    val m = mutualEdges(spark, sfDir)
    val adjDeg = graft.core.QueryCaches.track(
      m.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(m.select(col("v").as("src"), col("u").as("dst")))
        .withColumn("deg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src")))))
    val seed = ids.agg(min(col("id"))).head().getLong(0)
    val restart = (15L * Scale) / 100L
    var pr = ids.select(col("id"),
      when(col("id") === seed, lit(Scale)).otherwise(lit(0L)).as("pr"))
    for (_ <- 1 to 3) {
      val contrib = adjDeg
        .join(pr.filter(col("pr") > 0)
          .select(col("id").as("src"), col("pr").as("ppr")), "src")
        .groupBy(col("dst"))
        .agg(sum(expr("ppr div deg")).as("sc"))
        .select(col("dst").as("id"), col("sc"))
      pr = ids.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (when(col("id") === seed, lit(restart)).otherwise(lit(0L)) +
            expr("(85 * coalesce(sc, CAST(0 AS BIGINT))) div 100")).as("pr"))
    }
    pr.select(col("id").as("vec_id"), col("pr"))
  }

  /** SRP bucket-occupancy histogram — the skew diagnostic that feeds
    * every maxBucket choice in this suite: how many 8-bit buckets hold
    * exactly `sz` vectors. Two map-side-combined aggregates over one
    * scan (bucket→size, size→bucket-count); nothing else moves. At
    * 100 TB this is the cheap pre-flight run before picking LSH
    * parameters — a heavy tail here is the signal to cap or re-bit. */
  def simBucketHist(spark: SparkSession, sfDir: String): DataFrame =
    emb(spark, sfDir)
      .select(SimOps.srpBucket(col("embedding"), 8).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_buckets"))

  /** One-pass Gram matrix over the first 16 embedding dimensions —
    * [[graft.ext.SimOps.gramMatrix]] under the oracle gate: the
    * covariance/PCA/whitening primitive as a single scan whose hash
    * aggregate collapses the per-row d(d+1)/2 products map-side (the
    * exchange carries groups, not rows). Floats widen to double BEFORE
    * the multiply and the sums accumulate as DECIMAL(38,6) (the
    * [[Tables.dsum]] contract), so 136 cross-moment sums hash-match
    * DuckDB bit-for-bit. The oracle spells the expansion as a
    * range-join lateral product. */
  def simGram(spark: SparkSession, sfDir: String): DataFrame =
    SimOps.gramMatrix(emb(spark, sfDir), "embedding", 16)

  /** Power iteration over the Gram relation — the top-principal-
    * direction estimate that turns [[simGram]]'s one-pass sums into
    * actual PCA, spelled the way iterative linear algebra should look
    * on a cluster: matrix-vector products as joins against a broadcast
    * vector, never a driver-side matrix. v0 = e_0, so v1 is Gram
    * column 0 and v2 = G·v1; each dot product accumulates as
    * DECIMAL(38,6) ([[Tables.dsum]]) making the 16-term sums
    * order-independent — the float left-fold would differ between
    * engines. Unnormalized on purpose: the direction is what PCA needs,
    * normalization is one driver-side scalar, and avoiding sqrt keeps
    * the row hash-exact (the [[simPagerank]] integer-rounds argument,
    * decimal flavor). Scale: the corpus is touched ONCE (inside
    * gramMatrix); both iterations join ≤ d² Gram rows with a broadcast
    * d-row vector — free at any corpus size. */
  def simPcaPower(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    // persist the 136-row Gram relation: the symmetrized union reads it
    // twice, and v1/v2 each read the union — without the persist the
    // corpus would be scanned four times.
    val g = graft.core.QueryCaches.track(
      SimOps.gramMatrix(emb(spark, sfDir), "embedding", 16)
        .select(col("i"), col("j"), col("s_xy")))
    val sym = g.unionAll(g.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("s_xy")))
    val v1 = sym.filter(col("j") === 0L).select(col("i"), col("s_xy").as("v1"))
    val v2 = sym.join(broadcast(v1.select(col("i").as("j"), col("v1").as("vj"))), Seq("j"))
      .groupBy(col("i"))
      .agg(sum((col("s_xy") * col("vj")).cast(dec)).cast("double").as("v2"))
    v1.join(v2, Seq("i"))
  }

  /** Bounded k-core peel over the mutual-kNN graph — the degeneracy-
    * trimming op beside [[simTriangles]]/[[simLabelProp]]/
    * [[simPagerank]]: 5 rounds of "drop vertices with degree < 3,
    * restrict edges to survivors". The true 3-core is this peel's
    * fixpoint; a FIXED round count (the [[simLabelProp]] bounded-
    * horizon contract) keeps the result deterministic at every scale
    * factor and bounds latency — peel depth is a declared knob, not a
    * data-dependent loop. The carried per-round state is the VERTEX
    * relation (id, deg, alive), checkpointed each round by
    * [[graft.core.QueryCaches.iterate]]; the EDGE relation is
    * persisted once and never rewritten (see the in-body equivalence
    * note). Output: surviving vertices with their degree in the
    * round-5 subgraph. */
  def simKcore(spark: SparkSession, sfDir: String): DataFrame = {
    val m = graft.core.QueryCaches.track(mutualEdges(spark, sfDir))
    // r18 degree-delta peel (guide §2.4 — do the per-round work on the
    // DELTA, not the whole graph): the edge relation is materialized
    // ONCE and never rewritten; the carried state is the VERTEX
    // relation (id, deg, alive), where deg always equals the vertex's
    // alive-neighbor count. Each round: the sub-3-degree alive
    // vertices die, and every alive vertex subtracts its count of
    // newly-dead neighbors — a join of the static edge relation
    // against the (small) newly-removed set plus one vertex-sized
    // left join, instead of re-aggregating degrees over the whole
    // surviving edge set and rewriting it through two semi-joins.
    // Equivalence: an edge dies exactly when an endpoint dies, so for
    // a newly-dead v (alive until now) its surviving edges to alive u
    // are exactly its ORIGINAL edges to never-dead u — counting the
    // delta over the static relation is exact, and deg(u) stays equal
    // to u's alive-degree by induction. Vertices that reach deg 0 die
    // one round later than they vanish from the shrinking-edge form,
    // but a deg-0 vertex has no alive edges left, so its removal
    // produces an empty delta — observable state is identical, and the
    // final output filters deg >= 1 (the groupBy-over-edges semantic).
    val adj = graft.core.QueryCaches.track(
      m.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(m.select(col("v").as("src"), col("u").as("dst"))))
    val seed = graft.core.QueryCaches.checkpoint(
      adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("id"), col("deg"), lit(true).as("alive")))
    val peeled = graft.core.QueryCaches.iterate(seed, 5) { state =>
      val removed = state.filter(col("alive") && col("deg") < 3)
        .select(col("id").as("rid"))
      val delta = adj.join(removed, col("dst") === col("rid"))
        .groupBy(col("src")).agg(count(lit(1)).as("dd"))
        .select(col("src").as("did"), col("dd"))
      state.join(delta, col("id") === col("did"), "left")
        .select(col("id"),
          (col("deg") - coalesce(col("dd"), lit(0L))).as("deg"),
          (col("alive") && col("deg") >= 3).as("alive"))
    }(_ => false)
    peeled.filter(col("alive") && col("deg") >= 1)
      .select(col("id").as("vec_id"), col("deg").as("core_deg"))
  }

  /** Hybrid-retrieval RANK FUSION — reciprocal-rank fusion (RRF, the
    * standard consensus combiner in IR) of two retrieval orders over
    * the same corpus: cosine (angle) and raw inner product (MIPS
    * magnitude — the [[graft.functions.HashExprs.DotExpr]] kernel).
    * Both rankings score in ONE corpus pass against the broadcast
    * query set and share one (q_id)-partitioned exchange (two window
    * sorts over the same shuffle); rrf = 1/(60+rank_cos) +
    * 1/(60+rank_dot) — two IEEE divisions and one add, spelled in the
    * same order in both engines — then the fused top-5 per query via a
    * third window on the same partitioning. Ties deterministic by
    * vec_id at every rank. */
  def simRankFusion(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val scored = e.join(broadcast(querySet(e)), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        SimOps.cosine(col("embedding"), col("q_vec")).as("cos"),
        graft.functions.HashExprs.dotProduct(col("embedding"), col("q_vec")).as("dp"))
    val wc = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val wd = Window.partitionBy(col("q_id")).orderBy(col("dp").desc, col("vec_id"))
    val ranked = scored
      .withColumn("rank_cos", row_number().over(wc).cast("bigint"))
      .withColumn("rank_dot", row_number().over(wd).cast("bigint"))
      .withColumn("rrf",
        lit(1.0) / (col("rank_cos") + lit(60L)).cast("double") +
          lit(1.0) / (col("rank_dot") + lit(60L)).cast("double"))
    val wf = Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("vec_id"))
    ranked.withColumn("rk", row_number().over(wf)).filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id"), col("rank_cos"), col("rank_dot"), col("rrf"))
  }

  /** INCREMENTAL vector admission against a maintained IVF index —
    * the vector twin of `dedup_incremental`: a new batch screens
    * against the standing corpus WITHOUT an all-pairs scan. The batch
    * plants (a) exact duplicates of every 5th corpus vector (must be
    * flagged) and (b) novels — the REVERSED embedding, which for
    * near-isotropic vectors is just an unrelated direction (cosine ≈
    * noise, must be admitted). Both sides assign to the nearest of 8
    * broadcast coarse centroids (argmax cosine, the [[simKmeans]] seed
    * cells); candidates are batch ⋈ corpus WITHIN THE SAME CELL only —
    * the nprobe=1 IVF probe, so per batch vector the screen costs
    * |cell| comparisons, not |corpus|. An exact duplicate lands in its
    * original's cell BY CONSTRUCTION (identical vector ⇒ identical
    * argmax), so nprobe=1 recall on exact dups is structural, not
    * probabilistic. Output per batch vector: its cell, the candidate
    * count actually screened, and the admission verdict (dup_of = the
    * matched corpus id at cosine ≥ 0.99, null ⇒ admitted).
    *
    * 100 TB shape: the corpus side of the join is the PRE-ASSIGNED
    * index (maintained once, like dedup_incremental's (fp, count)
    * index); the batch side re-assigns per arrival against broadcast
    * centroids (k×dims, KB); the only shuffle is the cell-keyed
    * equi-join whose corpus fan-in is bounded by the cell size —
    * at production k the cell is corpus/k, and the [[simIvfPq]] PQ
    * codes drop in when even that is too wide. */
  def simIncrementalIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir).select(col("vec_id"), col("embedding"))
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("s_id"), col("embedding").as("s_vec"))
    def assign(v: DataFrame, idCol: String, vecCol: String): DataFrame =
      v.crossJoin(broadcast(seeds))
        .select(col(idCol), col(vecCol), col("s_id"),
          SimOps.cosine(col(vecCol), col("s_vec")).as("cos"))
        .groupBy(col(idCol))
        .agg(max_by(col("s_id"), struct(col("cos"), (-col("s_id")).as("ns"))).as("c_id"),
          first(col(vecCol)).as(vecCol))
    val batch = e.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + SHIFT).as("batch_id"), col("embedding").as("b_vec"))
      .unionAll(e.filter(col("vec_id") % 5 === 1)
        .select((col("vec_id") + 2 * SHIFT).as("batch_id"),
          reverse(col("embedding")).as("b_vec")))
    val ca = assign(e, "vec_id", "embedding")
    val ba = assign(batch, "batch_id", "b_vec")
    ba.join(ca, "c_id")
      .withColumn("cos", SimOps.cosine(col("b_vec"), col("embedding")))
      .groupBy(col("batch_id"), col("c_id"))
      .agg(count(lit(1)).as("n_cand"),
        min(when(col("cos") >= 0.99, col("vec_id"))).as("dup_of"))
      .withColumn("is_dup", col("dup_of").isNotNull)
  }

  /** MATRYOSHKA (coarse-to-fine) retrieval — the truncated-dimension
    * two-stage search modern MRL-trained embeddings enable (Kusupati
    * et al. 2022): stage 1 scores the corpus by cosine over only the
    * FIRST 16 of 64 dims (4× less arithmetic and — at production
    * layout — 4× less I/O, since the prefix is a contiguous column
    * slice) keeping 20 candidates per query; stage 2 re-ranks just
    * those 20 by full-dimension cosine and keeps 5. The brute-force
    * full-dim top-5 is computed beside it as ground truth, and each
    * returned neighbor carries `in_exact` — the recall report and the
    * search in ONE declared row (the [[simRecallReport]] pattern).
    * Candidates travel as (q_id, vec_id) pairs only; full vectors
    * re-enter via a vec_id equi-join AFTER the stage-1 cut, so the
    * wide arrays never ride a rank exchange. Both rank filters keep
    * the partial-top-k WindowGroupLimit shape (PlanSpec-pinned).
    * Measured recall@5 is 13/25 at sf0.01 — the honest number for
    * RANDOM embeddings, whose prefix carries only 1/4 of the signal;
    * MRL training exists precisely to concentrate signal in the
    * prefix, and this row is the calibration that would show it. */
  def simMatryoshka(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(spark, sfDir).select(col("vec_id"), col("embedding"))
    val q = querySet(e)
    val q16 = q.select(col("q_id"), slice(col("q_vec"), 1, 16).as("q16"))
    val w1 = Window.partitionBy(col("q_id")).orderBy(col("cos16").desc, col("vec_id"))
    val cand = e.select(col("vec_id"), slice(col("embedding"), 1, 16).as("e16"))
      .crossJoin(broadcast(q16))
      .select(col("q_id"), col("vec_id"),
        SimOps.cosine(col("e16"), col("q16")).as("cos16"))
      .withColumn("rk1", row_number().over(w1)).filter(col("rk1") <= 20)
      .select(col("q_id"), col("vec_id"))
    val w2 = Window.partitionBy(col("q_id")).orderBy(col("cos_full").desc, col("vec_id"))
    val top5 = cand
      .join(e, "vec_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"),
        SimOps.cosine(col("embedding"), col("q_vec")).as("cos_full"))
      .withColumn("rank", row_number().over(w2).cast("bigint"))
      .filter(col("rank") <= 5)
    val wb = Window.partitionBy(col("bq")).orderBy(col("cf").desc, col("bv"))
    val brute = e.crossJoin(broadcast(q))
      .select(col("q_id").as("bq"), col("vec_id").as("bv"),
        SimOps.cosine(col("embedding"), col("q_vec")).as("cf"))
      .withColumn("rkb", row_number().over(wb)).filter(col("rkb") <= 5)
      .select(col("bq"), col("bv"))
    top5.join(brute, col("q_id") === col("bq") && col("vec_id") === col("bv"), "left")
      .select(col("q_id"), col("vec_id"), col("rank"),
        col("bv").isNotNull.as("in_exact"))
  }

  /** MIPS → cosine-ANN reduction proved on-data (Shrivastava & Li
    * 2014, asymmetric transform made symmetric by the constant-norm
    * trick): augment every corpus vector with sqrt(M² − |v|²) so its
    * norm becomes exactly M, pad queries with 0 — then the augmented
    * COSINE ranking equals the raw INNER-PRODUCT ranking, because
    * cos(aug_v, aug_q) = v·q / (M·|q|), a positive monotone transform.
    * The row emits both rankings per query with an `agree` flag —
    * ranked top-10 by dot, re-ranked by augmented cosine, equal on
    * every row (ties broken by vec_id identically). WHY it matters:
    * every bucketed tool in this pillar (SRP-LSH, IVF, PQ-ADC, the
    * LshJoinRewrite) is a COSINE engine; this reduction is the proof
    * that inner-product retrieval (the recommender/reranker scoring
    * mode) rides the same infrastructure with one extra column.
    * sqrt/division are IEEE-correctly-rounded, spelled identically in
    * both engines — the hash gate holds on doubles here. */
  def simMipsReduction(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(spark, sfDir).select(col("vec_id"), col("embedding"))
    val q = querySet(e)
    val m2 = e.select(HashExprs.dotProduct(col("embedding"), col("embedding")).as("nn"))
      .agg(max(col("nn")).as("m2"))
    val scored = e.crossJoin(broadcast(q)).crossJoin(broadcast(m2))
      .select(col("q_id"), col("vec_id"),
        HashExprs.dotProduct(col("embedding"), col("q_vec")).as("dp"),
        (HashExprs.dotProduct(col("embedding"), col("q_vec")) /
          (sqrt(col("m2")) *
            sqrt(HashExprs.dotProduct(col("q_vec"), col("q_vec"))))).as("cos_aug"))
    val wd = Window.partitionBy(col("q_id")).orderBy(col("dp").desc, col("vec_id"))
    val wa = Window.partitionBy(col("q_id")).orderBy(col("cos_aug").desc, col("vec_id"))
    scored
      .withColumn("rank_dot", row_number().over(wd).cast("bigint"))
      .withColumn("rank_aug", row_number().over(wa).cast("bigint"))
      .filter(col("rank_dot") <= 10)
      .select(col("q_id"), col("vec_id"), col("rank_dot"), col("rank_aug"),
        (col("rank_dot") === col("rank_aug")).as("agree"))
  }

  /** THRESHOLD sensitivity sweep — "measure, don't guess" for the one
    * near-dup parameter everyone sets by folklore: candidates are
    * generated ONCE (the banded SRP join at a permissive 0.95), then
    * seven candidate thresholds are evaluated with one conditional
    * aggregation over that single pair relation — pair volume and
    * planted-twin recall per threshold, the curve a deployment picks
    * its operating point from. Planted twins (vec_id + SHIFT, exact
    * copies) score cosine 1.0, so the n_planted column doubles as the
    * recall floor at every threshold. Cost: one candidate generation
    * however many thresholds are swept — the sweep itself is
    * pairs × 7 rows through a map-side-combined aggregate. */
  def simThresholdSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir).select(col("vec_id"), col("embedding"))
    val corpus = e.unionAll(
      e.select((col("vec_id") + SHIFT).as("vec_id"), col("embedding")))
    val pairs = graft.core.QueryCaches.track(
      SimOps.embNearDupPairs(corpus, bits = 16, threshold = 0.95))
    val thresholds = array(Seq(950, 960, 970, 980, 990, 995, 999).map(lit): _*)
    pairs
      .select(col("cos"), (col("vec_b") === col("vec_a") + SHIFT).as("planted"),
        explode(thresholds).as("thr0"))
      .select(col("cos"), col("planted"), col("thr0").cast("bigint").as("thr_milli"))
      .filter(col("cos") >= col("thr_milli").cast("double") / lit(1000.0d))
      .groupBy(col("thr_milli"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("planted"), 1L).otherwise(0L)).as("n_planted"))
  }

  /** EMBEDDING-distribution drift monitor — `q_drift`'s all-integer
    * TVD verdict lifted to vectors: the norm² distribution (the one
    * scalar that catches re-scaled, truncated, or clipped embedding
    * batches) is banded (floor(‖v‖²·8)) and compared between the even
    * half (reference) and the odd half twice — CLEAN (as ingested:
    * identical distribution, verdict must be quiet) and PLANTED
    * (every 10th odd vector scaled 1.5×, modeled as the exact
    * norm-band multiplier 2.25 — the verdict must fire). Both
    * verdicts ride the same cross-multiplied integer machinery
    * (10·Σ|cnt_a·n_x − cnt_x·n_a| > n_a·n_x ⇔ TVD > 0.05), so the
    * row is its own calibration: one healthy baseline and one
    * injected regression, hash-checked. One corpus scan computes all
    * three band histograms; everything after is band-domain-sized. */
  def simEmbeddingDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val n = emb(spark, sfDir).select(col("vec_id"),
      HashExprs.dotProduct(col("embedding"), col("embedding")).as("nn"))
    val s = graft.core.QueryCaches.track(n.select(col("vec_id"),
      floor(col("nn") * lit(8.0d)).cast("bigint").as("band"),
      floor(col("nn") *
        when(col("vec_id") % 10 === 7, lit(2.25d)).otherwise(lit(1.0d)) *
        lit(8.0d)).cast("bigint").as("band_p")))
    val bands = s.groupBy(col("band").as("b"))
      .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("cnt_b"))
    val bandsp = s.filter(col("vec_id") % 2 === 1)
      .groupBy(col("band_p").as("b")).agg(count(lit(1)).as("cnt_p"))
    val joined = graft.core.QueryCaches.track(
      bands.join(bandsp, Seq("b"), "full_outer")
        .select(col("b").as("band"), coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
          coalesce(col("cnt_b"), lit(0L)).as("cnt_b"),
          coalesce(col("cnt_p"), lit(0L)).as("cnt_p")))
    val tot = joined.agg(sum(col("cnt_a")).as("n_a"), sum(col("cnt_b")).as("n_b"),
      sum(col("cnt_p")).as("n_p"))
    val wt = graft.core.QueryCaches.track(joined.crossJoin(broadcast(tot))
      .withColumn("gap_b", abs(col("cnt_a") * col("n_b") - col("cnt_b") * col("n_a")))
      .withColumn("gap_p", abs(col("cnt_a") * col("n_p") - col("cnt_p") * col("n_a"))))
    val tvd = wt.agg(sum(col("gap_b")).as("tvd_b"), sum(col("gap_p")).as("tvd_p"))
    wt.crossJoin(broadcast(tvd))
      .select(col("band"), col("cnt_a"), col("cnt_b"), col("cnt_p"),
        col("n_a"), col("n_b"), col("n_p"), col("tvd_b"), col("tvd_p"),
        (lit(10L) * col("tvd_b") > col("n_a") * col("n_b")).as("drifted_clean"),
        (lit(10L) * col("tvd_p") > col("n_a") * col("n_p")).as("drifted_planted"))
  }

  /** HITS hubs & authorities (Kleinberg) on the DIRECTED bucketed kNN
    * graph — the link-analysis dual of [[simPagerank]]: an AUTHORITY
    * is a vector many others pick as neighbor (the density/centroid
    * core of a region), a HUB is one whose own top-5 list points at
    * strong authorities. Two exact power iterations from h⁰ ≡ 1,
    * UNNORMALIZED so every score is an exact integer (a¹ = in-degree;
    * h¹ = Σ_out a¹; a² = Σ_in h¹ — normalization only rescales the
    * ranking this row reports, and dropping it keeps both engines in
    * pure BIGINT arithmetic, no float drift over iterations). Readout:
    * global top-20 by (a², vec_id) through the partial-rank idiom
    * (filter on the UNCAST rank so InsertWindowGroupLimit keeps the
    * top-k partial — the qHeavyHitters spelling). Scale: the directed
    * edge relation is O(N·k) fixed-width rows, persisted query-scoped
    * (read three times); each iteration is an edge-keyed equi-join +
    * map-side-combined sum — out-degree is capped at k by
    * construction, in-degree skew is the SRP bucket cap's job
    * upstream; the final window sees only node-grain rows and keeps
    * 20 per partition before the single merge. */
  def simHits(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = graft.core.QueryCaches.track(
      SimOps.knnGraph(
        emb(spark, sfDir).select(col("vec_id"), col("embedding")), k = 5, bits = 4)
        .select(col("vec_id").as("src"), col("nbr_id").as("dst")))
    val a1 = edges.groupBy(col("dst").as("v")).agg(count(lit(1)).as("a1"))
    val h1 = graft.core.QueryCaches.track(
      edges.join(a1, edges("dst") === a1("v"))
        .groupBy(col("src").as("u")).agg(sum(col("a1")).as("h1")))
    val a2 = edges.join(h1, edges("src") === h1("u"))
      .groupBy(col("dst").as("v")).agg(sum(col("h1")).as("a2"))
    a2.join(h1, a2("v") === h1("u"), "left")
      .select(col("v").as("vec_id"), col("a2"),
        coalesce(col("h1"), lit(0L)).as("hub1"))
      .withColumn("rk0", row_number().over(
        Window.orderBy(col("a2").desc, col("vec_id"))))
      .filter(col("rk0") <= 20)
      .select(col("rk0").cast("bigint").as("rk"), col("vec_id"),
        col("a2").as("authority2"), col("hub1"))
  }

  /** Adamic–Adar link prediction — the INFORMATIVENESS-weighted
    * upgrade of [[simLinkPredict]]'s raw common-neighbor count: each
    * shared neighbor z votes 1/log2(deg z), so a promiscuous hub that
    * neighbors everything contributes almost nothing while a rare
    * shared neighbor dominates. The weight rides the millibit fast-log
    * kernel ([[graft.functions.HashExprs.log2Millis]]): contribution =
    * 10⁹ div L(deg z) micro-units — exact integer arithmetic, the
    * identical piecewise-chord formula in both engines. Any z that
    * SURVIVES to a candidate pair has deg z ≥ 2 (a common neighbor
    * touches both endpoints), but the wedge projection itself also
    * visits degree-1 nodes — whose L = 0 divisor would yield NULL in
    * both engines and be dropped by the later join — so deg ≥ 2 is
    * filtered EXPLICITLY before the division (output-identical, and
    * the division is then provably defined: L ≥ 1000). The oracle
    * keeps the unfiltered spelling (its NULL rows are dropped by the
    * same join), which is exactly what proves the filter loses
    * nothing. Same wedge-join
    * shape as simLinkPredict (deg ≤ k caps the fan-out), same
    * partial-top-20 readout with (score, u, v) total order. */
  def simAdamicAdar(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HashExprs.log2Millis
    val m = graft.core.QueryCaches.track(mutualEdges(spark, sfDir))
    val adj = graft.core.QueryCaches.track(
      m.union(m.select(col("v").as("u"), col("u").as("v"))))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val wedge = adj.as("x")
      .join(deg.filter(col("deg") >= 2)
          .select(col("u").as("z"), col("deg").as("deg_z")),
        col("x.v") === col("z"))
      .select(col("x.u").as("u"), col("z"), log2Millis(col("deg_z")).as("lmb"))
      .withColumn("aa_micro", expr("1000000000 div lmb"))
    val cand = wedge.as("a").join(adj.as("y"),
        col("a.z") === col("y.u") && col("a.u") < col("y.v"))
      .groupBy(col("a.u").as("u"), col("y.v").as("v"))
      .agg(count(lit(1)).as("common"), sum(col("aa_micro")).as("aa_micro"))
      .join(m, Seq("u", "v"), "left_anti")
    cand
      .withColumn("rk0", row_number().over(
        Window.orderBy(col("aa_micro").desc, col("u"), col("v"))))
      .filter(col("rk0") <= 20)
      .select(col("rk0").cast("bigint").as("rk"), col("u"), col("v"),
        col("common"), col("aa_micro"))
  }

  /** Degree assortativity of the mutual-kNN graph — Newman 2002's
    * "do hubs connect to hubs" health metric: the Pearson correlation
    * of (deg(u), deg(v)) over the DIRECTED edge list (both
    * orientations, the standard convention). Near-dup-heavy corpora
    * drive it positive (clique cores), well-spread embeddings sit near
    * zero — the one-row screen read before trusting kNN-graph
    * community structure. EXACT RATIONALS throughout (the
    * [[graft.queries.TextQueries]] text_zipf posture): cleared moments
    * num = n·Σxy − ΣxΣy, denx/deny likewise, and the signed r²-milli
    * via the staged integral division (1000·|num| div denx)·|num| div
    * deny — degrees are ≤ k so every product sits far inside int64.
    * Scale: two vertex-keyed equi-joins of the degree relation onto
    * the edge list, one map-side-combined 1-row fold; edges are
    * corpus×k-bounded. */
  def simAssortativity(spark: SparkSession, sfDir: String): DataFrame = {
    val m = graft.core.QueryCaches.track(mutualEdges(spark, sfDir))
    val adj = graft.core.QueryCaches.track(
      m.union(m.select(col("v").as("u"), col("u").as("v"))))
    val deg = graft.core.QueryCaches.track(
      adj.groupBy(col("u")).agg(count(lit(1)).as("deg")))
    adj
      .join(deg.select(col("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("deg_v")), Seq("v"))
      .agg(count(lit(1)).as("n"),
        sum(col("deg_u")).as("sx"), sum(col("deg_v")).as("sy"),
        sum(col("deg_u") * col("deg_v")).as("sxy"),
        sum(col("deg_u") * col("deg_u")).as("sxx"),
        sum(col("deg_v") * col("deg_v")).as("syy"))
      .select(col("n").as("n_dir_edges"),
        expr("n * sxy - sx * sy").as("num"),
        expr("n * sxx - sx * sx").as("denx"),
        expr("n * syy - sy * sy").as("deny"))
      .select(col("n_dir_edges"), col("num"), col("denx"), col("deny"),
        expr("CASE WHEN denx = 0 OR deny = 0 THEN NULL ELSE " +
          "CAST(signum(num) AS BIGINT) * " +
          "(((1000 * abs(num)) div denx) * abs(num)) div deny END")
          .as("r2s_milli"))
  }

  /** Two-stage PQ retrieval with exact refinement — the standard
    * production ANN pipeline ([[simPqTopk]] stops at stage one): the
    * compressed ADC scan nominates top-32 candidates per query (cheap,
    * code-table arithmetic only), then ONLY those 32 rows fetch their
    * full vectors for an exact-cosine re-rank to top-5. The row
    * reports what refinement BUYS: recall@5 against the brute-force
    * truth for the raw ADC top-5 beside the refined top-5, plus the
    * truth size — the accuracy-per-fetch trade a deployment reads
    * before sizing its refinement budget. Self-matches are excluded
    * on every path ([[graft.ext.SimOps.topkBrute]]'s convention) so
    * the three rankings compare like for like. Scale: stage one is
    * the proven PQ shape (broadcast distance table, map-side-combined
    * code sums); stage two touches 32·|queries| rows — the full-vector
    * fetch is an equi-join on vec_id, never a scan; recall folds are
    * |queries|-bounded. */
  def simPqRefine(spark: SparkSession, sfDir: String): DataFrame = {
    val e = graft.core.QueryCaches.track(emb(spark, sfDir))
    val corpus = e.select(col("vec_id"), col("embedding"))
    val cb = SimOps.pqSeedCodebook(e, kCodes = 4, m = 8, sub = 8)
    val codes = SimOps.pqEncode(corpus, cb, m = 8, sub = 8)
      .select(col("vec_id"), col("s"), col("code"))
    val qs = querySet(e)
    val cand = graft.core.QueryCaches.track(
      SimOps.pqTopk(codes, qs, cb, k = 32, m = 8, sub = 8)
        .filter(col("vec_id") =!= col("q_id")))
    val adc5 = cand.withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adist"), col("vec_id"))))
      .filter(col("rk") <= 5)
      .select(col("q_id").as("a_q"), col("vec_id").as("a_v"))
    val refined5 = cand
      .join(corpus, "vec_id")
      .join(broadcast(qs), "q_id")
      .select(col("q_id"), col("vec_id"),
        SimOps.cosine(col("embedding"), col("q_vec")).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .select(col("q_id").as("r_q"), col("vec_id").as("r_v"))
    val truth = SimOps.topkBrute(corpus, qs, 5).select(col("q_id"), col("vec_id"))
    truth
      .join(adc5, col("q_id") === col("a_q") && col("vec_id") === col("a_v"),
        "left")
      .join(refined5, col("q_id") === col("r_q") && col("vec_id") === col("r_v"),
        "left")
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("a_v").isNotNull, 1L).otherwise(0L)).as("found_adc"),
        sum(when(col("r_v").isNotNull, 1L).otherwise(0L)).as("found_refined"))
      .select(col("n_truth"), col("found_adc"), col("found_refined"),
        expr("(1000 * found_adc) div n_truth").as("recall_adc_milli"),
        expr("(1000 * found_refined) div n_truth").as("recall_refined_milli"))
  }

  /** Best decision-stump split per embedding dimension — the label-
    * separability audit (which feature carries class signal, and
    * where to cut it), done the gradient-boosting HISTOGRAM way: the
    * only corpus-scale pass bins each of the first four dimensions to
    * a 250-milli grid and map-side-combines (d, bin, label) counts —
    * a ≤ 4·18·10-key shuffle regardless of corpus size, the exact
    * XGBoost/LightGBM approximate-split trick. Everything after runs
    * on that bounded histogram: candidate boundaries b ∈ 1..17 join
    * bins < b for left-class counts, and the split score is the
    * weighted-Gini MAXIMAND spelled as one exact integer fraction —
    * maximizing Σc_L²/n_L + Σc_R²/n_R is minimizing weighted Gini, so
    * score_num = Σc_L²·n_R + Σc_R²·n_L over score_den = n_L·n_R, both
    * emitted (bounded by n³ — overflow-safe for any gate corpus; a
    * 100 TB run orders by the same double ratio, which is all the
    * argmax needs). The per-dimension argmax orders by that ratio's
    * ONE IEEE division (identically rounded in both engines) with the
    * boundary index as the deterministic tie-break. Degenerate
    * one-sided splits (n_L = 0 or n_R = 0) are excluded before
    * ranking in both spellings. */
  def simSplitGain(spark: SparkSession, sfDir: String): DataFrame = {
    val binned = emb(spark, sfDir).select(col("label").cast("long").as("label"),
        posexplode(array((1 to 4).map(d => expr(
          s"(CAST(floor(CAST(element_at(embedding, $d) AS DOUBLE) * 1000.0)" +
            " AS BIGINT) + 2000) div 250")): _*)))
      .select((col("pos") + 1).cast("long").as("d"), col("col").as("bin"),
        col("label"))
    val hist = graft.core.QueryCaches.track(
      binned.groupBy(col("d"), col("bin"), col("label"))
        .agg(count(lit(1)).as("c")))
    val tot = hist.groupBy(col("d"), col("label")).agg(sum(col("c")).as("t"))
    val bounds = spark.range(1, 18).select(col("id").as("b"))
    val leftc = hist.join(broadcast(bounds), col("bin") < col("b"))
      .groupBy(col("d"), col("b"), col("label")).agg(sum(col("c")).as("cl0"))
    val full = tot.crossJoin(broadcast(bounds))
      .join(broadcast(leftc), Seq("d", "b", "label"), "left")
      .select(col("d"), col("b"), col("t"),
        coalesce(col("cl0"), lit(0L)).as("cl"))
    full.groupBy(col("d"), col("b"))
      .agg(sum(col("cl")).as("n_left"),
        sum(col("t") - col("cl")).as("n_right"),
        sum(col("cl") * col("cl")).as("sl"),
        sum((col("t") - col("cl")) * (col("t") - col("cl"))).as("sr"))
      .filter(col("n_left") > 0 && col("n_right") > 0)
      .select(col("d"), col("b"), col("n_left"), col("n_right"),
        (col("sl") * col("n_right") + col("sr") * col("n_left"))
          .as("score_num"),
        (col("n_left") * col("n_right")).as("score_den"))
      .withColumn("rk0", row_number().over(Window.partitionBy(col("d"))
        .orderBy((col("score_num").cast("double") /
          col("score_den").cast("double")).desc, col("b"))))
      .filter(col("rk0") <= 1)
      .select(col("d").as("feature"), (col("b") * 250 - 2000).as("t_milli"),
        col("n_left"), col("n_right"), col("score_num"), col("score_den"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_split_gain" -> (simSplitGain _),
    "sim_hits" -> (simHits _),
    "sim_adamic_adar" -> (simAdamicAdar _),
    "sim_assortativity" -> (simAssortativity _),
    "sim_pq_refine" -> (simPqRefine _),
    "sim_embedding_drift" -> (simEmbeddingDrift _),
    "sim_threshold_sweep" -> (simThresholdSweep _),
    "sim_mips_reduction" -> (simMipsReduction _),
    "sim_matryoshka" -> (simMatryoshka _),
    "sim_incremental_ivf" -> (simIncrementalIvf _),
    "sim_rank_fusion" -> (simRankFusion _),
    "sim_kcore" -> (simKcore _),
    "sim_gram" -> (simGram _),
    "sim_pca_power" -> (simPcaPower _),
    "sim_pq" -> (simPq _),
    "sim_pq_topk" -> (simPqTopk _),
    "sim_rrf" -> (simRrf _),
    "sim_triangles" -> (simTriangles _),
    "sim_link_predict" -> (simLinkPredict _),
    "sim_mmr" -> (simMmr _),
    "sim_mmr_ann" -> (simMmrAnn _),
    "sim_ann_sweep" -> (simAnnSweep _),
    "sim_ivf_sweep" -> (simIvfSweep _),
    "sim_label_prop" -> (simLabelProp _),
    "sim_modularity" -> (simModularity _),
    "sim_pagerank" -> (simPagerank _),
    "sim_ppr" -> (simPpr _),
    "sim_bucket_hist" -> (simBucketHist _),
    "sim_components" -> (simComponents _),
    "sim_semantic_dedup" -> (simSemanticDedup _),
    "sim_bfs_hops" -> (simBfsHops _),
    "sim_kcenter" -> (simKcenter _),
    "sim_clustering_coeff" -> (simClusteringCoeff _),
    "sim_graph_search" -> (simGraphSearch _),
    "sim_beam_search" -> (simBeamSearch _),
    "sim_kmeans" -> (simKmeans _),
    "sim_silhouette" -> (simSilhouette _),
    "curate_outliers" -> (curateOutliers _),
    "sim_lsh_probe" -> (simLshProbe _),
    "sim_ndcg" -> (simNdcg _),
    "sim_rocchio" -> (simRocchio _),
    "sim_ivf_balance" -> (simIvfBalance _),
    "sim_knn_graph" -> (simKnnGraph _),
    "sim_hubness" -> (simHubness _),
    "sim_topk" -> (simTopk _),
    "sim_hard_negatives" -> (simHardNegatives _),
    "sim_knn_classify" -> (simKnnClassify _),
    "sim_recall_report" -> (simRecallReport _),
    "sim_lsh" -> (simLsh _),
    "sim_pairs" -> (simPairs _),
    "sim_pairs_capped" -> (simPairsCapped _),
    "sim_pairs_rewrite" -> (simPairsRewrite _),
    "sim_quantize" -> (simQuantize _),
    "sim_ivf" -> (simIvf _),
    "sim_ivf_pq" -> (simIvfPq _),
    "sim_index_persist" -> (simIndexPersist _),
    "sim_index_delta" -> (simIndexDelta _),
    "sim_index_compact" -> (simIndexCompact _),
    "sim_index_delete" -> (simIndexDelete _))

  // ---- DuckDB oracle spellings -------------------------------------
  // The cosine/SRP folds are spelled with list_reduce(list_prepend(...))
  // left folds — the same IEEE operation order as the native kernels.

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($a)+1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (s,x) -> s + x)"

  /** dot(a,c) where c is already DOUBLE (centroid). */
  private def dotMixedSql(a: String, c: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($a)+1), " +
      s"i -> CAST($a[i] AS DOUBLE) * $c[i])), (s,x) -> s + x)"

  private def dotDDSql(c: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($c)+1), " +
      s"i -> $c[i] * $c[i])), (s,x) -> s + x)"

  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  private def cosMixedSql(a: String, c: String): String =
    s"${dotMixedSql(a, c)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotDDSql(c)}))"

  private def srpSql(v: String, bits: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, $bits), p -> " +
      s"CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, len($v)+1), i -> CAST($v[i] AS DOUBLE) * " +
      s"((((p*4099 + i) * (p*4099 + i)) % 999999937) * (p*4099 + i) % 999999937 " +
      s"/ 499999968.5 - 1.0))), " +
      s"(s,x) -> s + x) > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)), " +
      s"(acc, b) -> acc*2 + b)"

  /** Shared MMR greedy chain over a `cand(q_id, vec_id, cos)` CTE
    * supplied by `candPrelude` — the unrolled 4-stage argmax identical
    * to [[mmrRerank]]: step k anti-joins the union of prior picks,
    * takes the max pairwise sim to them, and argmaxes the MMR score.
    * (CAST(1 AS DOUBLE) - 0.7) — NOT 0.3 — reproduces Spark's
    * 1.0 - 0.7 = 0.30000000000000004 bit-exactly. */
  private def mmrOracleSql(candPrelude: String): String = {
    def step(k: Int): String = {
      val prev = (1 until k).map(i => s"s$i").mkString(" UNION ALL SELECT * FROM ")
      s"""sel$k AS (SELECT * FROM $prev),
         |r$k AS (SELECT c.* FROM cand c WHERE NOT EXISTS (
         |    SELECT 1 FROM sel$k WHERE sel$k.q_id = c.q_id AND sel$k.vec_id = c.vec_id)),
         |m$k AS (SELECT p.q_id, p.a_id, MAX(p.sim) AS m
         |        FROM pr p JOIN sel$k ON sel$k.q_id = p.q_id AND sel$k.vec_id = p.b_id
         |        GROUP BY 1, 2),
         |s$k AS (SELECT q_id, CAST($k AS BIGINT) AS rank, vec_id, cos AS rel,
         |          score AS mmr_score FROM (
         |        SELECT r.q_id, r.vec_id, r.cos,
         |          CAST(0.7 AS DOUBLE) * r.cos - (CAST(1 AS DOUBLE) - 0.7) * m.m AS score
         |        FROM r$k r JOIN m$k m ON m.q_id = r.q_id AND m.a_id = r.vec_id)
         |      QUALIFY row_number() OVER (PARTITION BY q_id
         |        ORDER BY score DESC, vec_id) = 1)""".stripMargin
    }
    s"""WITH $candPrelude,
       |ce AS (SELECT c.q_id, c.vec_id, c.cos, e.embedding
       |       FROM cand c JOIN embeddings e USING (vec_id)),
       |pr AS (SELECT a.q_id, a.vec_id AS a_id, b.vec_id AS b_id,
       |         ${cosSql("a.embedding", "b.embedding")} AS sim
       |       FROM ce a JOIN ce b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
       |s1 AS (SELECT q_id, CAST(1 AS BIGINT) AS rank, vec_id, cos AS rel,
       |         score AS mmr_score FROM (
       |       SELECT q_id, vec_id, cos, CAST(0.7 AS DOUBLE) * cos AS score FROM cand)
       |     QUALIFY row_number() OVER (PARTITION BY q_id
       |       ORDER BY score DESC, vec_id) = 1),
       |${step(2)},
       |${step(3)},
       |${step(4)}
       |SELECT * FROM s1 UNION ALL SELECT * FROM s2
       |UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4""".stripMargin
  }

  /** Shared CTE chain: directed 5-NN graph (the sim_knn_graph
    * semantics) symmetrized to mutual u<v edges. */
  /** MATERIALIZED throughout: each relation here is referenced 2+
    * times downstream (knn self-joins; the graph oracles reference the
    * edge set per round), and DuckDB inlines plain CTEs — the k-core
    * oracle re-expanded this chain exponentially and OOM'd at sf0.1.
    * Materialization changes no values, only the evaluation fence
    * (same fix as the DTW wavefront oracle). */
  private def mutualSql: String =
    s"""b AS MATERIALIZED (SELECT vec_id, embedding, ${srpSql("embedding", 4)} AS bucket FROM embeddings),
       |scored AS MATERIALIZED (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
       |                  ${cosSql("a.embedding", "b.embedding")} AS cos
       |           FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |knn AS MATERIALIZED (SELECT vec_id, nbr_id FROM (
       |          SELECT vec_id, nbr_id,
       |                 row_number() OVER (PARTITION BY vec_id
       |                   ORDER BY cos DESC, nbr_id) AS rk
       |          FROM scored) WHERE rk <= 5),
       |m AS MATERIALIZED (SELECT f.vec_id AS u, f.nbr_id AS v
       |      FROM knn f JOIN knn r ON f.vec_id = r.nbr_id AND f.nbr_id = r.vec_id
       |      WHERE f.vec_id < f.nbr_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "sim_split_gain" ->
      """WITH h AS MATERIALIZED (SELECT CAST(dd.d AS BIGINT) AS d,
        |    (CAST(floor(CAST(embedding[dd.d] AS DOUBLE) * 1000.0) AS BIGINT)
        |      + 2000) // 250 AS bin,
        |    CAST(label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM embeddings CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS d) dd
        |  GROUP BY 1, 2, 3),
        |tot AS (SELECT d, label, CAST(SUM(c) AS BIGINT) AS t
        |  FROM h GROUP BY 1, 2),
        |bounds AS (SELECT CAST(b AS BIGINT) AS b FROM generate_series(1, 17) g(b)),
        |leftc AS (SELECT d, b, label, CAST(SUM(c) AS BIGINT) AS cl0
        |  FROM h JOIN bounds ON h.bin < bounds.b GROUP BY 1, 2, 3),
        |fl AS (SELECT tot.d, bounds.b, tot.t,
        |    COALESCE(leftc.cl0, 0) AS cl
        |  FROM tot CROSS JOIN bounds
        |  LEFT JOIN leftc ON leftc.d = tot.d AND leftc.b = bounds.b
        |    AND leftc.label = tot.label),
        |per AS (SELECT d, b,
        |    CAST(SUM(cl) AS BIGINT) AS n_left,
        |    CAST(SUM(t - cl) AS BIGINT) AS n_right,
        |    CAST(SUM(cl * cl) AS BIGINT) AS sl,
        |    CAST(SUM((t - cl) * (t - cl)) AS BIGINT) AS sr
        |  FROM fl GROUP BY 1, 2
        |  HAVING SUM(cl) > 0 AND SUM(t - cl) > 0),
        |scored AS (SELECT d, b, n_left, n_right,
        |    sl * n_right + sr * n_left AS score_num,
        |    n_left * n_right AS score_den,
        |    row_number() OVER (PARTITION BY d ORDER BY
        |      CAST(sl * n_right + sr * n_left AS DOUBLE) /
        |      CAST(n_left * n_right AS DOUBLE) DESC, b) AS rk
        |  FROM per)
        |SELECT d AS feature, b * 250 - 2000 AS t_milli, n_left, n_right,
        |  score_num, score_den
        |FROM scored WHERE rk = 1""".stripMargin,
    "sim_hits" ->
      s"""WITH b AS MATERIALIZED (SELECT vec_id, embedding,
         |       ${srpSql("embedding", 4)} AS bucket FROM embeddings),
         |scored AS MATERIALIZED (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         |             ${cosSql("a.embedding", "b.embedding")} AS cos
         |           FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |knn AS MATERIALIZED (SELECT vec_id AS src, nbr_id AS dst FROM (
         |        SELECT vec_id, nbr_id, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cos DESC, nbr_id) AS rk FROM scored) WHERE rk <= 5),
         |a1 AS (SELECT dst AS v, CAST(COUNT(*) AS BIGINT) AS a1
         |       FROM knn GROUP BY dst),
         |h1 AS MATERIALIZED (SELECT src AS u, CAST(SUM(a1) AS BIGINT) AS h1
         |       FROM knn JOIN a1 ON knn.dst = a1.v GROUP BY src),
         |a2 AS (SELECT dst AS v, CAST(SUM(h1) AS BIGINT) AS a2
         |       FROM knn JOIN h1 ON knn.src = h1.u GROUP BY dst),
         |j AS (SELECT a2.v AS vec_id, a2.a2,
         |        CAST(COALESCE(h1.h1, 0) AS BIGINT) AS hub1
         |      FROM a2 LEFT JOIN h1 ON a2.v = h1.u)
         |SELECT CAST(row_number() OVER (ORDER BY a2 DESC, vec_id) AS BIGINT)
         |    AS rk, vec_id, a2 AS authority2, hub1
         |FROM j QUALIFY rk <= 20""".stripMargin,
    "sim_embedding_drift" ->
      s"""WITH n AS (SELECT vec_id, ${dotSql("embedding", "embedding")} AS nn
         |           FROM embeddings),
         |s AS (SELECT vec_id,
         |        CAST(floor(nn * 8.0) AS BIGINT) AS band,
         |        CAST(floor(nn * CASE WHEN vec_id % 10 = 7 THEN 2.25 ELSE 1.0 END
         |          * 8.0) AS BIGINT) AS band_p
         |      FROM n),
         |bands AS (SELECT band AS b,
         |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
         |    CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
         |  FROM s GROUP BY 1),
         |bandsp AS (SELECT band_p AS b, CAST(COUNT(*) AS BIGINT) AS cnt_p
         |  FROM s WHERE vec_id % 2 = 1 GROUP BY 1),
         |j AS (SELECT COALESCE(bands.b, bandsp.b) AS band,
         |        COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b,
         |        COALESCE(cnt_p, 0) AS cnt_p
         |      FROM bands FULL JOIN bandsp ON bandsp.b = bands.b),
         |tot AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
         |          CAST(SUM(cnt_b) AS BIGINT) AS n_b,
         |          CAST(SUM(cnt_p) AS BIGINT) AS n_p FROM j),
         |wt AS (SELECT j.*, tot.n_a, tot.n_b, tot.n_p,
         |         abs(cnt_a * n_b - cnt_b * n_a) AS gap_b,
         |         abs(cnt_a * n_p - cnt_p * n_a) AS gap_p
         |       FROM j, tot),
         |tvd AS (SELECT CAST(SUM(gap_b) AS BIGINT) AS tvd_b,
         |          CAST(SUM(gap_p) AS BIGINT) AS tvd_p FROM wt)
         |SELECT band, cnt_a, cnt_b, cnt_p, n_a, n_b, n_p, tvd_b, tvd_p,
         |  10 * tvd_b > n_a * n_b AS drifted_clean,
         |  10 * tvd_p > n_a * n_p AS drifted_planted
         |FROM wt, tvd""".stripMargin,
    "sim_threshold_sweep" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
         |                UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings),
         |b AS (SELECT vec_id, embedding, ${srpSql("embedding", 16)} AS bucket FROM corpus),
         |pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |                 ${cosSql("a.embedding", "b.embedding")} AS cos
         |          FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |cand AS (SELECT vec_a, vec_b, cos FROM pairs WHERE cos >= 0.95),
         |sw AS (SELECT c.cos, c.vec_b = c.vec_a + 1000000 AS planted,
         |         CAST(t.thr AS BIGINT) AS thr_milli
         |       FROM cand c CROSS JOIN
         |         (SELECT unnest([950, 960, 970, 980, 990, 995, 999]) AS thr) t
         |       WHERE c.cos >= CAST(t.thr AS DOUBLE) / 1000.0)
         |SELECT thr_milli, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       CAST(SUM(CASE WHEN planted THEN 1 ELSE 0 END) AS BIGINT) AS n_planted
         |FROM sw GROUP BY 1""".stripMargin,
    "sim_mips_reduction" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
         |           FROM embeddings WHERE vec_id % 100 = 0),
         |n2 AS (SELECT vec_id, embedding,
         |         ${dotSql("embedding", "embedding")} AS nn FROM embeddings),
         |m AS (SELECT MAX(nn) AS m2 FROM n2),
         |scored AS (SELECT q.q_id, n2.vec_id,
         |             ${dotSql("n2.embedding", "q.q_vec")} AS dp,
         |             ${dotSql("n2.embedding", "q.q_vec")}
         |               / (sqrt(m.m2) * sqrt(${dotSql("q.q_vec", "q.q_vec")})) AS cos_aug
         |           FROM n2, q, m),
         |r AS (SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id
         |          ORDER BY dp DESC, vec_id) AS rank_dot,
         |        row_number() OVER (PARTITION BY q_id
         |          ORDER BY cos_aug DESC, vec_id) AS rank_aug
         |      FROM scored)
         |SELECT q_id, vec_id, CAST(rank_dot AS BIGINT) AS rank_dot,
         |       CAST(rank_aug AS BIGINT) AS rank_aug,
         |       rank_dot = rank_aug AS agree
         |FROM r WHERE rank_dot <= 10""".stripMargin,
    "sim_matryoshka" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
         |           FROM embeddings WHERE vec_id % 100 = 0),
         |s1 AS (SELECT q_id, vec_id,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos16 DESC, vec_id) AS rk1
         |       FROM (SELECT q.q_id, e.vec_id,
         |               ${cosSql("e.embedding[1:16]", "q.q_vec[1:16]")} AS cos16
         |             FROM embeddings e, q)),
         |cand AS (SELECT q_id, vec_id FROM s1 WHERE rk1 <= 20),
         |s2 AS (SELECT q_id, vec_id,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos_full DESC, vec_id) AS rank
         |       FROM (SELECT c.q_id, c.vec_id,
         |               ${cosSql("e.embedding", "q.q_vec")} AS cos_full
         |             FROM cand c JOIN embeddings e USING (vec_id)
         |               JOIN q USING (q_id))),
         |top5 AS (SELECT q_id, vec_id, CAST(rank AS BIGINT) AS rank
         |         FROM s2 WHERE rank <= 5),
         |sb AS (SELECT q_id AS bq, vec_id AS bv,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY cf DESC, vec_id) AS rkb
         |       FROM (SELECT q.q_id, e.vec_id,
         |               ${cosSql("e.embedding", "q.q_vec")} AS cf
         |             FROM embeddings e, q)),
         |brute AS (SELECT bq, bv FROM sb WHERE rkb <= 5)
         |SELECT t.q_id, t.vec_id, t.rank, b.bv IS NOT NULL AS in_exact
         |FROM top5 t LEFT JOIN brute b ON b.bq = t.q_id AND b.bv = t.vec_id""".stripMargin,
    "sim_incremental_ivf" ->
      s"""WITH seeds AS (SELECT vec_id AS s_id, embedding AS s_vec
         |               FROM embeddings WHERE vec_id < 8),
         |batch AS (
         |  SELECT vec_id + 1000000 AS batch_id, embedding AS b_vec
         |  FROM embeddings WHERE vec_id % 5 = 0
         |  UNION ALL
         |  SELECT vec_id + 2000000 AS batch_id, list_reverse(embedding) AS b_vec
         |  FROM embeddings WHERE vec_id % 5 = 1),
         |ca AS (SELECT vec_id, embedding, c_id FROM (
         |         SELECT vec_id, embedding, s_id AS c_id,
         |           row_number() OVER (PARTITION BY vec_id
         |             ORDER BY cos DESC, s_id) AS rk
         |         FROM (SELECT e.vec_id, e.embedding, s.s_id,
         |                 ${cosSql("e.embedding", "s.s_vec")} AS cos
         |               FROM embeddings e, seeds s))
         |       WHERE rk = 1),
         |ba AS (SELECT batch_id, b_vec, c_id FROM (
         |         SELECT batch_id, b_vec, s_id AS c_id,
         |           row_number() OVER (PARTITION BY batch_id
         |             ORDER BY cos DESC, s_id) AS rk
         |         FROM (SELECT b.batch_id, b.b_vec, s.s_id,
         |                 ${cosSql("b.b_vec", "s.s_vec")} AS cos
         |               FROM batch b, seeds s))
         |       WHERE rk = 1),
         |cand AS (SELECT b.batch_id, b.c_id, c.vec_id,
         |           ${cosSql("b.b_vec", "c.embedding")} AS cos
         |         FROM ba b JOIN ca c ON c.c_id = b.c_id)
         |SELECT batch_id, c_id, COUNT(*) AS n_cand,
         |       MIN(CASE WHEN cos >= 0.99 THEN vec_id END) AS dup_of,
         |       MIN(CASE WHEN cos >= 0.99 THEN vec_id END) IS NOT NULL AS is_dup
         |FROM cand GROUP BY batch_id, c_id""".stripMargin,
    "sim_pca_power" ->
      """WITH gram AS (SELECT CAST(ii AS BIGINT) AS i, CAST(jj AS BIGINT) AS j,
        |    CAST(SUM(CAST(CAST(embedding[ii + 1] AS DOUBLE) *
        |      CAST(embedding[jj + 1] AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS s
        |  FROM embeddings,
        |    (SELECT unnest(range(0, 16)) AS ii),
        |    (SELECT unnest(range(0, 16)) AS jj)
        |  WHERE jj >= ii GROUP BY 1, 2),
        |sym AS (SELECT i, j, s FROM gram
        |  UNION ALL SELECT j AS i, i AS j, s FROM gram WHERE i <> j),
        |v1 AS (SELECT i, s AS v1 FROM sym WHERE j = 0),
        |v2 AS (SELECT sym.i AS i,
        |    CAST(SUM(CAST(sym.s * v1.v1 AS DECIMAL(38,6))) AS DOUBLE) AS v2
        |  FROM sym JOIN v1 ON sym.j = v1.i GROUP BY 1)
        |SELECT v1.i AS i, v1, v2 FROM v1 JOIN v2 ON v1.i = v2.i""".stripMargin,
    "sim_gram" ->
      """SELECT CAST(ii AS BIGINT) AS i, CAST(jj AS BIGINT) AS j,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(CAST(CAST(embedding[ii + 1] AS DOUBLE) *
        |    CAST(embedding[jj + 1] AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS s_xy
        |FROM embeddings,
        |  (SELECT unnest(range(0, 16)) AS ii),
        |  (SELECT unnest(range(0, 16)) AS jj)
        |WHERE jj >= ii
        |GROUP BY 1, 2""".stripMargin,
    "sim_pq" ->
      s"""WITH sub AS (SELECT vec_id, s, list_slice(embedding, s*8 + 1, s*8 + 8) AS sv
         |            FROM embeddings, (SELECT unnest(range(0, 8)) AS s)),
         |cb AS (SELECT vec_id AS code, s, list_slice(embedding, s*8 + 1, s*8 + 8) AS cw
         |       FROM embeddings, (SELECT unnest(range(0, 8)) AS s)
         |       WHERE vec_id < 4),
         |d AS (SELECT vec_id, sub.s AS s, code,
         |        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
         |          i -> (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)) *
         |               (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)))),
         |          (a, b) -> a + b) AS dist
         |      FROM sub JOIN cb USING (s)),
         |a AS (SELECT vec_id, s, code, dist,
         |        row_number() OVER (PARTITION BY vec_id, s
         |          ORDER BY dist, code) AS rk FROM d)
         |SELECT vec_id,
         |  CAST(SUM(code << (2*s)) AS BIGINT) AS code_key,
         |  CAST(SUM(CAST(dist AS DECIMAL(38,6))) AS DOUBLE) AS recon_err
         |FROM a WHERE rk = 1 GROUP BY vec_id""".stripMargin,
    "sim_pq_refine" ->
      s"""WITH sub AS (SELECT vec_id, s, list_slice(embedding, s*8 + 1, s*8 + 8) AS sv
         |            FROM embeddings, (SELECT unnest(range(0, 8)) AS s)),
         |cb AS (SELECT vec_id AS code, s, list_slice(embedding, s*8 + 1, s*8 + 8) AS cw
         |       FROM embeddings, (SELECT unnest(range(0, 8)) AS s)
         |       WHERE vec_id < 4),
         |d AS (SELECT vec_id, sub.s AS s, code,
         |        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
         |          i -> (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)) *
         |               (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)))),
         |          (a, b) -> a + b) AS dist
         |      FROM sub JOIN cb USING (s)),
         |codes AS (SELECT vec_id, s, code FROM (
         |            SELECT vec_id, s, code,
         |              row_number() OVER (PARTITION BY vec_id, s
         |                ORDER BY dist, code) AS rk FROM d) WHERE rk = 1),
         |q AS (SELECT vec_id AS q_id, s, list_slice(embedding, s*8 + 1, s*8 + 8) AS sv
         |      FROM embeddings, (SELECT unnest(range(0, 8)) AS s)
         |      WHERE vec_id % 100 = 0),
         |qfull AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
         |          WHERE vec_id % 100 = 0),
         |dt AS (SELECT q_id, q.s AS s, code,
         |        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
         |          i -> (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)) *
         |               (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)))),
         |          (a, b) -> a + b) AS d
         |       FROM q JOIN cb USING (s)),
         |ad AS (SELECT q_id, vec_id,
         |         CAST(SUM(CAST(d AS DECIMAL(38,6))) AS DOUBLE) AS adist
         |       FROM codes JOIN dt USING (s, code)
         |       GROUP BY q_id, vec_id),
         |cand AS MATERIALIZED (SELECT q_id, vec_id, adist FROM (
         |  SELECT q_id, vec_id, adist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rk
         |  FROM ad) WHERE rk <= 32 AND vec_id <> q_id),
         |adc5 AS (SELECT q_id AS a_q, vec_id AS a_v FROM (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rk
         |  FROM cand) WHERE rk <= 5),
         |ref AS (SELECT c.q_id, c.vec_id,
         |          ${cosSql("e.embedding", "qq.q_vec")} AS cos
         |        FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
         |        JOIN qfull qq ON c.q_id = qq.q_id),
         |ref5 AS (SELECT q_id AS r_q, vec_id AS r_v FROM (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM ref) WHERE rk <= 5),
         |scored AS (SELECT q_id, vec_id,
         |             ${cosSql("embedding", "q_vec")} AS cos
         |           FROM embeddings, qfull WHERE vec_id <> q_id),
         |truth AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM scored) WHERE rk <= 5),
         |f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
         |    CAST(SUM(CASE WHEN a_v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS found_adc,
         |    CAST(SUM(CASE WHEN r_v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS found_refined
         |  FROM truth
         |  LEFT JOIN adc5 ON truth.q_id = adc5.a_q AND truth.vec_id = adc5.a_v
         |  LEFT JOIN ref5 ON truth.q_id = ref5.r_q AND truth.vec_id = ref5.r_v)
         |SELECT n_truth, found_adc, found_refined,
         |  (1000 * found_adc) // n_truth AS recall_adc_milli,
         |  (1000 * found_refined) // n_truth AS recall_refined_milli
         |FROM f""".stripMargin,
    "sim_pq_topk" ->
      s"""WITH sub AS (SELECT vec_id, s, list_slice(embedding, s*8 + 1, s*8 + 8) AS sv
         |            FROM embeddings, (SELECT unnest(range(0, 8)) AS s)),
         |cb AS (SELECT vec_id AS code, s, list_slice(embedding, s*8 + 1, s*8 + 8) AS cw
         |       FROM embeddings, (SELECT unnest(range(0, 8)) AS s)
         |       WHERE vec_id < 4),
         |d AS (SELECT vec_id, sub.s AS s, code,
         |        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
         |          i -> (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)) *
         |               (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)))),
         |          (a, b) -> a + b) AS dist
         |      FROM sub JOIN cb USING (s)),
         |codes AS (SELECT vec_id, s, code FROM (
         |            SELECT vec_id, s, code,
         |              row_number() OVER (PARTITION BY vec_id, s
         |                ORDER BY dist, code) AS rk FROM d) WHERE rk = 1),
         |q AS (SELECT vec_id AS q_id, s, list_slice(embedding, s*8 + 1, s*8 + 8) AS sv
         |      FROM embeddings, (SELECT unnest(range(0, 8)) AS s)
         |      WHERE vec_id % 100 = 0),
         |dt AS (SELECT q_id, q.s AS s, code,
         |        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
         |          i -> (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)) *
         |               (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)))),
         |          (a, b) -> a + b) AS d
         |       FROM q JOIN cb USING (s)),
         |ad AS (SELECT q_id, vec_id,
         |         CAST(SUM(CAST(d AS DECIMAL(38,6))) AS DOUBLE) AS adist
         |       FROM codes JOIN dt USING (s, code)
         |       GROUP BY q_id, vec_id)
         |SELECT q_id, vec_id, adist FROM (
         |  SELECT q_id, vec_id, adist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rk
         |  FROM ad) WHERE rk <= 5""".stripMargin,
    "sim_rrf" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 100 = 0),
         |scored AS (SELECT q_id, vec_id, ${cosSql("embedding", "q_vec")} AS cos
         |           FROM embeddings, q WHERE vec_id <> q_id),
         |dn AS (SELECT q_id, vec_id, rk_d FROM (
         |    SELECT q_id, vec_id, row_number() OVER
         |      (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk_d FROM scored)
         |  WHERE rk_d <= 10),
         |sub AS (SELECT vec_id, s, list_slice(embedding, s*8 + 1, s*8 + 8) AS sv
         |        FROM embeddings, (SELECT unnest(range(0, 8)) AS s)),
         |cb AS (SELECT vec_id AS code, s, list_slice(embedding, s*8 + 1, s*8 + 8) AS cw
         |       FROM embeddings, (SELECT unnest(range(0, 8)) AS s)
         |       WHERE vec_id < 4),
         |d AS (SELECT vec_id, sub.s AS s, code,
         |        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
         |          i -> (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)) *
         |               (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)))),
         |          (a, b) -> a + b) AS dist
         |      FROM sub JOIN cb USING (s)),
         |codes AS (SELECT vec_id, s, code FROM (
         |            SELECT vec_id, s, code,
         |              row_number() OVER (PARTITION BY vec_id, s
         |                ORDER BY dist, code) AS rk FROM d) WHERE rk = 1),
         |qs AS (SELECT vec_id AS q_id, s, list_slice(embedding, s*8 + 1, s*8 + 8) AS sv
         |       FROM embeddings, (SELECT unnest(range(0, 8)) AS s)
         |       WHERE vec_id % 100 = 0),
         |dt AS (SELECT q_id, qs.s AS s, code,
         |        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
         |          i -> (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)) *
         |               (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)))),
         |          (a, b) -> a + b) AS dd
         |       FROM qs JOIN cb USING (s)),
         |ad AS (SELECT q_id, vec_id,
         |         CAST(SUM(CAST(dd AS DECIMAL(38,6))) AS DOUBLE) AS adist
         |       FROM codes JOIN dt USING (s, code)
         |       GROUP BY q_id, vec_id),
         |an AS (SELECT q_id, vec_id, rk_a FROM (
         |    SELECT q_id, vec_id, row_number() OVER
         |      (PARTITION BY q_id ORDER BY adist, vec_id) AS rk_a FROM ad)
         |  WHERE rk_a <= 10),
         |f AS (SELECT COALESCE(dn.q_id, an.q_id) AS q_id,
         |        COALESCE(dn.vec_id, an.vec_id) AS vec_id,
         |        COALESCE(1000000 // (60 + rk_d), 0) +
         |          COALESCE(1000000 // (60 + rk_a), 0) AS rrf_micro,
         |        COALESCE(rk_d, 0) AS rk_dense, COALESCE(rk_a, 0) AS rk_adc
         |      FROM dn FULL JOIN an ON dn.q_id = an.q_id AND dn.vec_id = an.vec_id)
         |SELECT q_id, vec_id, rrf_micro, rk_dense, rk_adc FROM f
         |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY rrf_micro DESC, vec_id) <= 5""".stripMargin,
    // brute-candidate MMR: ground-truth contract
    "sim_mmr" -> mmrOracleSql(
      s"""q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 100 = 0),
         |cand AS (SELECT q_id, vec_id, cos FROM (
         |    SELECT q_id, vec_id, ${cosSql("embedding", "q_vec")} AS cos
         |    FROM embeddings, q WHERE vec_id <> q_id)
         |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 8)""".stripMargin),
    // LSH-candidate MMR: same re-rank chain over the sim_lsh bucket
    // candidates — the operating path proved against its own hash
    "sim_mmr_ann" -> mmrOracleSql(
      s"""bc AS (SELECT vec_id, embedding, ${srpSql("embedding", 4)} AS bucket FROM embeddings),
         |bq AS (SELECT vec_id AS q_id, embedding AS q_vec, ${srpSql("embedding", 4)} AS bucket
         |       FROM embeddings WHERE vec_id % 100 = 0),
         |cand AS (SELECT q_id, vec_id, cos FROM (
         |    SELECT q_id, bc.vec_id, ${cosSql("bc.embedding", "q_vec")} AS cos
         |    FROM bc JOIN bq USING (bucket) WHERE bc.vec_id <> q_id)
         |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 8)""".stripMargin),
    "sim_adamic_adar" -> {
      def mbSql(q: String): String =
        s"(CAST((length(bin($q)) - 1) * 1000 AS BIGINT) + " +
          s"(($q - (CAST(1 AS BIGINT) << (length(bin($q)) - 1))) * 1000) // " +
          s"(CAST(1 AS BIGINT) << (length(bin($q)) - 1)))"
      s"""WITH $mutualSql,
         |adj AS (SELECT u, v FROM m UNION ALL SELECT v, u FROM m),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
         |wedge AS (SELECT x.u AS u, x.v AS z,
         |            1000000000 // ${mbSql("deg.deg")} AS aa_micro
         |          FROM adj x JOIN deg ON x.v = deg.u),
         |cand AS (SELECT w.u AS u, y.v AS v, CAST(COUNT(*) AS BIGINT) AS common,
         |           CAST(SUM(aa_micro) AS BIGINT) AS aa_micro
         |         FROM wedge w JOIN adj y ON w.z = y.u AND w.u < y.v
         |         GROUP BY 1, 2),
         |nonedge AS (SELECT c.u, c.v, c.common, c.aa_micro FROM cand c
         |            WHERE NOT EXISTS (
         |              SELECT 1 FROM m WHERE m.u = c.u AND m.v = c.v))
         |SELECT rk, u, v, common, aa_micro FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY aa_micro DESC, u, v)
         |    AS BIGINT) AS rk, *
         |  FROM nonedge) WHERE rk <= 20""".stripMargin
    },
    "sim_assortativity" ->
      s"""WITH $mutualSql,
         |adj AS (SELECT u, v FROM m UNION ALL SELECT v, u FROM m),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
         |e AS (SELECT du.deg AS deg_u, dv.deg AS deg_v
         |      FROM adj a JOIN deg du ON a.u = du.u JOIN deg dv ON a.v = dv.u),
         |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(deg_u) AS BIGINT) AS sx, CAST(SUM(deg_v) AS BIGINT) AS sy,
         |        CAST(SUM(deg_u * deg_v) AS BIGINT) AS sxy,
         |        CAST(SUM(deg_u * deg_u) AS BIGINT) AS sxx,
         |        CAST(SUM(deg_v * deg_v) AS BIGINT) AS syy
         |      FROM e),
         |d AS (SELECT n, n * sxy - sx * sy AS num,
         |        n * sxx - sx * sx AS denx, n * syy - sy * sy AS deny
         |      FROM s)
         |SELECT n AS n_dir_edges, num, denx, deny,
         |  CASE WHEN denx = 0 OR deny = 0 THEN NULL ELSE
         |    CAST(sign(num) AS BIGINT) *
         |      ((((1000 * abs(num)) // denx) * abs(num)) // deny) END AS r2s_milli
         |FROM d""".stripMargin,
    "sim_link_predict" ->
      s"""WITH $mutualSql,
         |adj AS (SELECT u, v FROM m UNION ALL SELECT v, u FROM m),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
         |cand AS (SELECT x.u AS u, y.v AS v, CAST(COUNT(*) AS BIGINT) AS common
         |         FROM adj x JOIN adj y ON x.v = y.u AND x.u < y.v
         |         GROUP BY 1, 2),
         |nonedge AS (SELECT c.u, c.v, c.common FROM cand c
         |            WHERE c.common >= 2 AND NOT EXISTS (
         |              SELECT 1 FROM m WHERE m.u = c.u AND m.v = c.v)),
         |lp AS (SELECT n.u, n.v, n.common, du.deg AS deg_u, dv.deg AS deg_v,
         |         (1000 * n.common) // (du.deg + dv.deg - n.common) AS jaccard_milli
         |       FROM nonedge n
         |       JOIN deg du ON du.u = n.u JOIN deg dv ON dv.u = n.v)
         |SELECT rk, u, v, common, deg_u, deg_v, jaccard_milli FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY common DESC, u, v) AS BIGINT) AS rk, *
         |  FROM lp) WHERE rk <= 20""".stripMargin,
    "sim_triangles" ->
      s"""WITH $mutualSql,
         |tri AS (SELECT ab.u AS a, ab.v AS b, bc.v AS c
         |        FROM m ab JOIN m bc ON ab.v = bc.u
         |                  JOIN m ac ON ab.u = ac.u AND bc.v = ac.v),
         |corners AS (SELECT a AS vec_id FROM tri
         |            UNION ALL SELECT b FROM tri
         |            UNION ALL SELECT c FROM tri)
         |SELECT vec_id, COUNT(*) AS n_tri FROM corners GROUP BY vec_id""".stripMargin,
    "sim_clustering_coeff" ->
      s"""WITH $mutualSql,
         |tri AS (SELECT ab.u AS a, ab.v AS b, bc.v AS c
         |        FROM m ab JOIN m bc ON ab.v = bc.u
         |                  JOIN m ac ON ab.u = ac.u AND bc.v = ac.v),
         |corners AS (SELECT a AS vec_id FROM tri
         |            UNION ALL SELECT b FROM tri
         |            UNION ALL SELECT c FROM tri),
         |ntri AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_tri
         |         FROM corners GROUP BY 1),
         |deg AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS deg FROM
         |        (SELECT u AS vec_id FROM m UNION ALL SELECT v FROM m)
         |        GROUP BY 1)
         |SELECT d.vec_id, deg, COALESCE(n_tri, CAST(0 AS BIGINT)) AS n_tri,
         |  COALESCE(n_tri, CAST(0 AS BIGINT)) * 2 AS cc_num,
         |  deg * (deg - 1) AS cc_den,
         |  CAST(COALESCE(n_tri, 0) * 2 AS DOUBLE) / CAST(deg * (deg - 1) AS DOUBLE) AS coeff
         |FROM deg d LEFT JOIN ntri USING (vec_id)
         |WHERE deg >= 2""".stripMargin,
    "sim_rank_fusion" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 100 = 0),
         |s AS (SELECT q_id, vec_id, ${cosSql("embedding", "q_vec")} AS cos,
         |             ${dotSql("embedding", "q_vec")} AS dp
         |      FROM embeddings, q WHERE vec_id <> q_id),
         |r AS (SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank_cos,
         |        row_number() OVER (PARTITION BY q_id ORDER BY dp DESC, vec_id) AS rank_dot
         |      FROM s),
         |f AS (SELECT q_id, vec_id, rank_cos, rank_dot,
         |        CAST(1 AS DOUBLE) / CAST(rank_cos + 60 AS DOUBLE)
         |          + CAST(1 AS DOUBLE) / CAST(rank_dot + 60 AS DOUBLE) AS rrf
         |      FROM r)
         |SELECT q_id, vec_id, rank_cos, rank_dot, rrf FROM f
         |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, vec_id) <= 5""".stripMargin,
    "sim_kcore" -> {
      val rounds = (1 to 5).map { i =>
        s"""k$i AS MATERIALIZED (SELECT src FROM (SELECT src, COUNT(*) AS deg
           |        FROM a${i - 1} GROUP BY src) WHERE deg >= 3),
           |a$i AS MATERIALIZED (SELECT a.src, a.dst FROM a${i - 1} a
           |        JOIN k$i s ON a.src = s.src JOIN k$i t ON a.dst = t.src)""".stripMargin
      }.mkString(",\n")
      s"""WITH $mutualSql,
         |a0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM m UNION ALL SELECT v, u FROM m),
         |$rounds
         |SELECT src AS vec_id, COUNT(*) AS core_deg FROM a5 GROUP BY src""".stripMargin
    },
    "sim_pagerank" -> {
      val rounds = (1 to 3).map { i =>
        s"""c$i AS MATERIALIZED (SELECT a.dst AS id, CAST(SUM(p.pr // d.deg) AS BIGINT) AS sc
           |        FROM adj a JOIN dg d ON a.src = d.src
           |        JOIN p${i - 1} p ON a.src = p.id GROUP BY a.dst),
           |p$i AS MATERIALIZED (SELECT p${i - 1}.id AS id,
           |          CAST((15 * 1000000000000) // (100 * n_nodes)
           |            + (85 * COALESCE(c$i.sc, 0)) // 100 AS BIGINT) AS pr
           |        FROM p${i - 1} LEFT JOIN c$i ON p${i - 1}.id = c$i.id, nn)""".stripMargin
      }.mkString(",\n")
      s"""WITH $mutualSql,
         |adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM m UNION ALL SELECT v, u FROM m),
         |dg AS (SELECT src, COUNT(*) AS deg FROM adj GROUP BY src),
         |nn AS (SELECT COUNT(*) AS n_nodes FROM embeddings),
         |p0 AS (SELECT vec_id AS id, CAST(1000000000000 // n_nodes AS BIGINT) AS pr
         |       FROM embeddings, nn),
         |$rounds
         |SELECT id AS vec_id, pr FROM p3""".stripMargin
    },
    "sim_ppr" -> {
      val rounds = (1 to 3).map { i =>
        s"""c$i AS MATERIALIZED (SELECT a.dst AS id, CAST(SUM(p.pr // d.deg) AS BIGINT) AS sc
           |        FROM adj a JOIN dg d ON a.src = d.src
           |        JOIN p${i - 1} p ON a.src = p.id GROUP BY a.dst),
           |p$i AS MATERIALIZED (SELECT p${i - 1}.id AS id,
           |          CAST(CASE WHEN p${i - 1}.id = sd.seed
           |              THEN (15 * 1000000000000) // 100 ELSE 0 END
           |            + (85 * COALESCE(c$i.sc, 0)) // 100 AS BIGINT) AS pr
           |        FROM p${i - 1} LEFT JOIN c$i ON p${i - 1}.id = c$i.id, sd)""".stripMargin
      }.mkString(",\n")
      s"""WITH $mutualSql,
         |adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM m UNION ALL SELECT v, u FROM m),
         |dg AS (SELECT src, COUNT(*) AS deg FROM adj GROUP BY src),
         |sd AS (SELECT MIN(vec_id) AS seed FROM embeddings),
         |p0 AS (SELECT vec_id AS id, CAST(CASE WHEN vec_id = sd.seed
         |          THEN 1000000000000 ELSE 0 END AS BIGINT) AS pr
         |       FROM embeddings, sd),
         |$rounds
         |SELECT id AS vec_id, pr FROM p3""".stripMargin
    },
    "sim_label_prop" ->
      s"""WITH $mutualSql,
         |adj AS (SELECT u AS src, v AS dst FROM m
         |        UNION ALL SELECT v, u FROM m
         |        UNION ALL SELECT vec_id, vec_id FROM embeddings),
         |l1 AS (SELECT src AS id, MIN(dst) AS label FROM adj GROUP BY src),
         |l2 AS (SELECT a.src AS id, MIN(l.label) AS label
         |       FROM adj a JOIN l1 l ON a.dst = l.id GROUP BY a.src),
         |l3 AS (SELECT a.src AS id, MIN(l.label) AS label
         |       FROM adj a JOIN l2 l ON a.dst = l.id GROUP BY a.src)
         |SELECT id AS vec_id, label FROM l3""".stripMargin,
    // same label chain; Q contributions in int64 (q_num = 4·m·e_c − d_c²)
    "sim_modularity" ->
      s"""WITH $mutualSql,
         |adj AS (SELECT u AS src, v AS dst FROM m
         |        UNION ALL SELECT v, u FROM m
         |        UNION ALL SELECT vec_id, vec_id FROM embeddings),
         |l1 AS (SELECT src AS id, MIN(dst) AS label FROM adj GROUP BY src),
         |l2 AS (SELECT a.src AS id, MIN(l.label) AS label
         |       FROM adj a JOIN l1 l ON a.dst = l.id GROUP BY a.src),
         |l3 AS MATERIALIZED (SELECT a.src AS id, MIN(l.label) AS label
         |       FROM adj a JOIN l2 l ON a.dst = l.id GROUP BY a.src),
         |lab AS (SELECT id AS vec_id, label FROM l3),
         |mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM m),
         |ein AS (SELECT a.label AS label, CAST(COUNT(*) AS BIGINT) AS e_in
         |        FROM m JOIN lab a ON m.u = a.vec_id JOIN lab b ON m.v = b.vec_id
         |        WHERE a.label = b.label GROUP BY 1),
         |deg AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |          SELECT u AS vec_id FROM m UNION ALL SELECT v FROM m) GROUP BY 1),
         |ds AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |         CAST(SUM(COALESCE(deg, 0)) AS BIGINT) AS d_sum
         |       FROM lab LEFT JOIN deg USING (vec_id) GROUP BY 1)
         |SELECT ds.label, n_nodes, d_sum,
         |       CAST(COALESCE(e_in, 0) AS BIGINT) AS e_in, m_edges,
         |       4 * m_edges * CAST(COALESCE(e_in, 0) AS BIGINT) - d_sum * d_sum AS q_num
         |FROM ds LEFT JOIN ein USING (label), mt""".stripMargin,
    "sim_bucket_hist" ->
      s"""WITH b AS (SELECT ${srpSql("embedding", 8)} AS bucket FROM embeddings),
         |s AS (SELECT bucket, COUNT(*) AS sz FROM b GROUP BY bucket)
         |SELECT sz, COUNT(*) AS n_buckets FROM s GROUP BY sz""".stripMargin,
    "sim_components" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 2000000,
         |    list_transform(embedding, v -> v * CAST(1.0001 AS FLOAT)) FROM embeddings),
         |b AS (SELECT vec_id, embedding, ${srpSql("embedding", 16)} AS bucket FROM corpus),
         |pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb
         |          FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |          WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.999),
         |sym AS (SELECT va AS a, vb AS b FROM pairs UNION SELECT vb, va FROM pairs),
         |reach AS (SELECT a, b FROM sym
         |          UNION
         |          SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         |cl AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster_rep FROM reach GROUP BY a)
         |SELECT id, cluster_rep FROM cl""".stripMargin,
    "sim_semantic_dedup" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
         |                UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings),
         |seeds AS (SELECT vec_id AS s_id, embedding AS s_vec
         |          FROM embeddings WHERE vec_id < 8),
         |scored AS (SELECT vec_id, embedding, s_id,
         |             ${cosSql("embedding", "s_vec")} AS cos
         |           FROM corpus, seeds),
         |best AS (SELECT vec_id, embedding, s_id AS c_id,
         |           row_number() OVER (PARTITION BY vec_id
         |             ORDER BY cos DESC, s_id) AS rk
         |         FROM scored),
         |a AS (SELECT vec_id, embedding, c_id, ${srpSql("embedding", 8)} AS bucket
         |      FROM best WHERE rk = 1),
         |p AS (SELECT a.c_id AS c_id, x.vec_id AS vec_b
         |      FROM a a JOIN a x ON a.c_id = x.c_id AND a.bucket = x.bucket
         |        AND a.vec_id < x.vec_id
         |      WHERE ${cosSql("a.embedding", "x.embedding")} >= 0.999)
         |SELECT c_id, COUNT(*) AS n_pairs, COUNT(DISTINCT vec_b) AS n_dropped
         |FROM p GROUP BY c_id""".stripMargin,
    "sim_kmeans" ->
      s"""WITH seeds AS (SELECT vec_id AS s_id, embedding AS s_vec
         |               FROM embeddings WHERE vec_id < 8),
         |scored AS (SELECT vec_id, embedding, s_id,
         |             ${cosSql("embedding", "s_vec")} AS cos
         |           FROM embeddings, seeds),
         |best AS (SELECT vec_id, embedding, s_id AS c_id,
         |           row_number() OVER (PARTITION BY vec_id
         |             ORDER BY cos DESC, s_id) AS rk
         |         FROM scored),
         |a AS (SELECT vec_id, embedding, c_id FROM best WHERE rk = 1),
         |comp AS (SELECT c_id, generate_subscripts(embedding, 1) - 1 AS pos,
         |                unnest(embedding) AS v FROM a),
         |cd AS (SELECT c_id, pos, COUNT(*) AS n,
         |         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS cv
         |       FROM comp GROUP BY c_id, pos)
         |SELECT c_id, MAX(n) AS n,
         |       list_reduce(list_prepend(CAST(0 AS DOUBLE), list(cv ORDER BY pos)),
         |         (a, b) -> a + b) AS c_sum
         |FROM cd GROUP BY c_id""".stripMargin,
    "sim_silhouette" ->
      s"""WITH comp AS (SELECT CAST(label AS BIGINT) AS lab,
         |                generate_subscripts(embedding, 1) - 1 AS pos,
         |                unnest(embedding) AS v FROM embeddings),
         |cd AS (SELECT lab, pos,
         |         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
         |           / COUNT(*) AS cv
         |       FROM comp GROUP BY lab, pos),
         |cents AS (SELECT lab AS c_lab, list(cv ORDER BY pos) AS c_vec
         |          FROM cd GROUP BY lab),
         |scored AS (SELECT vec_id, CAST(label AS BIGINT) AS lab, c_lab,
         |             ${cosMixedSql("embedding", "c_vec")} AS cc
         |           FROM embeddings, cents),
         |m AS (SELECT vec_id, lab,
         |        MAX(CASE WHEN lab = c_lab THEN cc END) AS a,
         |        MAX(CASE WHEN lab <> c_lab THEN cc END) AS b
         |      FROM scored GROUP BY 1, 2)
         |SELECT lab, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(a - b AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mean_margin,
         |  CAST(SUM(CASE WHEN a < b THEN 1 ELSE 0 END) AS BIGINT) AS n_misplaced,
         |  (1000 * CAST(SUM(CASE WHEN a < b THEN 1 ELSE 0 END) AS BIGINT))
         |    // COUNT(*) AS misplaced_milli
         |FROM m GROUP BY 1""".stripMargin,
    "curate_outliers" ->
      s"""WITH j AS (SELECT doc_id, lang, embedding
         |           FROM documents JOIN embeddings ON doc_id = vec_id),
         |comp AS (SELECT lang, generate_subscripts(embedding, 1) - 1 AS pos,
         |                unnest(embedding) AS v FROM j),
         |cd AS (SELECT lang, pos,
         |         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS cv
         |       FROM comp GROUP BY lang, pos),
         |cents AS (SELECT lang, list(cv ORDER BY pos) AS c_vec FROM cd GROUP BY lang)
         |SELECT doc_id, lang, ${cosMixedSql("embedding", "c_vec")} AS cos_centroid,
         |       ${cosMixedSql("embedding", "c_vec")} < 0.1 AS outlier
         |FROM j JOIN cents USING (lang)""".stripMargin,
    "sim_rocchio" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
         |           FROM embeddings WHERE vec_id % 100 = 0),
         |bs AS (SELECT q_id, vec_id, ${cosSql("embedding", "q_vec")} AS cos
         |       FROM embeddings, q WHERE vec_id <> q_id),
         |bt AS (SELECT q_id, vec_id,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos DESC, vec_id) AS rk
         |       FROM bs QUALIFY rk <= 10),
         |comp AS (SELECT bt.q_id, generate_subscripts(e.embedding, 1) - 1 AS pos,
         |           unnest(e.embedding) AS v
         |         FROM bt JOIN embeddings e ON bt.vec_id = e.vec_id
         |         WHERE bt.rk <= 3),
         |cd AS (SELECT q_id, pos,
         |         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
         |           / COUNT(*) AS cv
         |       FROM comp GROUP BY 1, 2),
         |cvec AS (SELECT q_id, list(cv ORDER BY pos) AS c_vec FROM cd GROUP BY 1),
         |ex AS (SELECT q.q_id,
         |         list_transform(range(1, len(q_vec) + 1),
         |           i -> CAST(q_vec[i] AS DOUBLE) + c_vec[i]) AS x_vec
         |       FROM q JOIN cvec USING (q_id)),
         |re AS (SELECT ex.q_id, vec_id, ${cosMixedSql("embedding", "x_vec")} AS cos
         |       FROM embeddings, ex WHERE vec_id <> ex.q_id),
         |rr AS (SELECT q_id, vec_id, cos,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos DESC, vec_id) AS BIGINT) AS rk
         |       FROM re QUALIFY rk <= 5)
         |SELECT rr.q_id, rk, rr.vec_id, cos,
         |  COALESCE(o.orig, FALSE) AS in_orig
         |FROM rr LEFT JOIN (SELECT q_id, vec_id, TRUE AS orig FROM bt WHERE rk <= 5) o
         |  ON rr.q_id = o.q_id AND rr.vec_id = o.vec_id""".stripMargin,
    "sim_ndcg" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
         |           FROM embeddings WHERE vec_id % 100 = 0),
         |bs AS (SELECT q_id, vec_id, ${cosSql("embedding", "q_vec")} AS cos
         |       FROM embeddings, q WHERE vec_id <> q_id),
         |truth AS (SELECT q_id, vec_id,
         |            row_number() OVER (PARTITION BY q_id
         |              ORDER BY cos DESC, vec_id) AS rk_b
         |          FROM bs QUALIFY rk_b <= 10),
         |bc AS (SELECT vec_id, embedding, ${srpSql("embedding", 4)} AS bucket FROM embeddings),
         |bq AS (SELECT vec_id AS q_id, embedding AS q_vec, ${srpSql("embedding", 4)} AS b0
         |       FROM embeddings WHERE vec_id % 100 = 0),
         |probes AS (SELECT q_id, q_vec,
         |             CASE WHEN f = 4 THEN b0
         |                  ELSE xor(b0, CAST(power(2, f) AS BIGINT)) END AS bucket
         |           FROM bq, (SELECT unnest(range(0, 5)) AS f)),
         |scored AS (SELECT DISTINCT q_id, vec_id, ${cosSql("embedding", "q_vec")} AS cos
         |           FROM bc JOIN probes USING (bucket) WHERE vec_id <> q_id),
         |sys AS (SELECT q_id, vec_id,
         |          row_number() OVER (PARTITION BY q_id
         |            ORDER BY cos DESC, vec_id) AS rk_s
         |        FROM scored QUALIFY rk_s <= 10),
         |g AS (SELECT sys.q_id, rk_s,
         |        COALESCE(11 - rk_b, 0) AS rel,
         |        ([1000, 630, 500, 430, 386, 356, 333, 315, 301, 289])[rk_s] AS disc
         |      FROM sys LEFT JOIN truth
         |        ON sys.q_id = truth.q_id AND sys.vec_id = truth.vec_id)
         |SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_returned,
         |  CAST(SUM(rel * disc) AS BIGINT) AS dcg_milli,
         |  (1000 * CAST(SUM(rel * disc) AS BIGINT)) // 29944 AS ndcg_milli
         |FROM g GROUP BY 1""".stripMargin,
    "sim_lsh_probe" ->
      s"""WITH bc AS (SELECT vec_id, embedding, ${srpSql("embedding", 4)} AS bucket FROM embeddings),
         |bq AS (SELECT vec_id AS q_id, embedding AS q_vec, ${srpSql("embedding", 4)} AS b0
         |       FROM embeddings WHERE vec_id % 100 = 0),
         |probes AS (SELECT q_id, q_vec,
         |             CASE WHEN f = 4 THEN b0
         |                  ELSE xor(b0, CAST(power(2, f) AS BIGINT)) END AS bucket
         |           FROM bq, (SELECT unnest(range(0, 5)) AS f)),
         |scored AS (SELECT DISTINCT q_id, vec_id, ${cosSql("embedding", "q_vec")} AS cos
         |           FROM bc JOIN probes USING (bucket) WHERE vec_id <> q_id)
         |SELECT q_id, vec_id, cos FROM scored
         |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 10""".stripMargin,
    "sim_knn_graph" ->
      s"""WITH b AS (SELECT vec_id, embedding, ${srpSql("embedding", 4)} AS bucket FROM embeddings),
         |scored AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         |                  ${cosSql("a.embedding", "b.embedding")} AS cos
         |           FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
         |SELECT vec_id, CAST(row_number() OVER (PARTITION BY vec_id
         |         ORDER BY cos DESC, nbr_id) AS BIGINT) AS rk, nbr_id, cos
         |FROM scored
         |QUALIFY rk <= 5""".stripMargin,
    "sim_hubness" ->
      s"""WITH b AS (SELECT vec_id, embedding, ${srpSql("embedding", 4)} AS bucket FROM embeddings),
         |scored AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         |                  ${cosSql("a.embedding", "b.embedding")} AS cos
         |           FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |knn AS (SELECT vec_id, nbr_id FROM (SELECT vec_id, nbr_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS rk
         |  FROM scored) WHERE rk <= 5),
         |ind AS (SELECT e.vec_id, CAST(COUNT(k.nbr_id) AS BIGINT) AS indeg
         |  FROM embeddings e LEFT JOIN knn k ON k.nbr_id = e.vec_id GROUP BY 1)
         |SELECT indeg, CAST(COUNT(*) AS BIGINT) AS n_vecs
         |FROM ind GROUP BY 1""".stripMargin,
    // NOTE: every CTE below stays PLAIN — the recursive walk reads
    // edges (transitively knn/scored/b) through a LATERAL, and a
    // MATERIALIZED cte on that path silently empties the recursion
    // (the sim_kcenter quirk, which also bites transitively).
    "sim_graph_search" ->
      s"""WITH RECURSIVE b AS (SELECT vec_id, embedding,
         |       ${srpSql("embedding", 4)} AS bucket FROM embeddings),
         |scored AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         |             ${cosSql("a.embedding", "b.embedding")} AS cos
         |           FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |knn AS (SELECT vec_id, nbr_id FROM (
         |        SELECT vec_id, nbr_id, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cos DESC, nbr_id) AS rk FROM scored) WHERE rk <= 5),
         |edges AS (SELECT vec_id AS src, nbr_id AS dst FROM knn
         |        UNION SELECT nbr_id, vec_id FROM knn),
         |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
         |      WHERE vec_id % 100 = 0),
         |walk(q_id, cur, cur_cos, steps) AS (
         |  SELECT q.q_id, e.vec_id, ${cosSql("e.embedding", "q.q_vec")}, CAST(0 AS BIGINT)
         |  FROM q JOIN embeddings e
         |    ON e.vec_id = (SELECT MIN(vec_id) FROM embeddings WHERE vec_id <> q.q_id)
         |  UNION ALL
         |  SELECT w.q_id, pick.dst, pick.c, w.steps + 1
         |  FROM walk w, LATERAL (
         |    SELECT ed.dst AS dst, ${cosSql("e2.embedding", "q2.q_vec")} AS c
         |    FROM edges ed JOIN embeddings e2 ON e2.vec_id = ed.dst
         |         JOIN q q2 ON q2.q_id = w.q_id
         |    WHERE ed.src = w.cur AND ed.dst <> w.q_id
         |    ORDER BY c DESC, ed.dst LIMIT 1) pick
         |  WHERE w.steps < 6 AND pick.c > w.cur_cos),
         |fin AS (SELECT q_id, cur AS found_id, cur_cos AS found_cos,
         |          steps AS n_steps FROM walk
         |        QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY steps DESC) = 1),
         |tr AS (SELECT q_id, vec_id AS true_id, c AS true_cos FROM (
         |        SELECT q.q_id, e.vec_id, ${cosSql("e.embedding", "q.q_vec")} AS c,
         |               row_number() OVER (PARTITION BY q.q_id
         |                 ORDER BY ${cosSql("e.embedding", "q.q_vec")} DESC, e.vec_id) AS rk
         |        FROM embeddings e, q WHERE e.vec_id <> q.q_id) WHERE rk = 1)
         |SELECT fin.q_id, found_id, found_cos, n_steps, true_id, true_cos,
         |       found_id = true_id AS hit
         |FROM fin JOIN tr USING (q_id)""".stripMargin,
    "sim_beam_search" ->
      s"""WITH RECURSIVE b AS (SELECT vec_id, embedding,
         |       ${srpSql("embedding", 4)} AS bucket FROM embeddings),
         |scored AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         |             ${cosSql("a.embedding", "b.embedding")} AS cos
         |           FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |knn AS (SELECT vec_id, nbr_id FROM (
         |        SELECT vec_id, nbr_id, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cos DESC, nbr_id) AS rk FROM scored) WHERE rk <= 5),
         |edges AS (SELECT vec_id AS src, nbr_id AS dst FROM knn
         |        UNION SELECT nbr_id, vec_id FROM knn),
         |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
         |      WHERE vec_id % 100 = 0),
         |rec(q_id, r, beam, visited) AS (
         |  SELECT q.q_id, CAST(0 AS BIGINT),
         |         [(SELECT MIN(vec_id) FROM embeddings WHERE vec_id <> q.q_id)],
         |         [(SELECT MIN(vec_id) FROM embeddings WHERE vec_id <> q.q_id)]
         |  FROM q
         |  UNION ALL
         |  SELECT rec.q_id, rec.r + 1, nb.newbeam,
         |         list_distinct(list_concat(rec.visited, cd.cands))
         |  FROM rec,
         |  LATERAL (SELECT coalesce(list(DISTINCT ed.dst), []) AS cands
         |           FROM edges ed
         |           WHERE list_contains(rec.beam, ed.src)
         |             AND NOT list_contains(rec.visited, ed.dst)
         |             AND ed.dst <> rec.q_id) cd,
         |  LATERAL (SELECT (list(s.id ORDER BY s.cs DESC, s.id))[1:3] AS newbeam
         |           FROM (SELECT u.id AS id, ${cosSql("e3.embedding", "q2.q_vec")} AS cs
         |                 FROM unnest(list_concat(rec.beam, cd.cands)) AS u(id),
         |                      embeddings e3, q q2
         |                 WHERE e3.vec_id = u.id AND q2.q_id = rec.q_id) s) nb
         |  WHERE rec.r < 4),
         |fin AS (SELECT q_id, beam FROM rec
         |        QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY r DESC) = 1),
         |sc2 AS (SELECT f.q_id, u.id AS id, ${cosSql("e4.embedding", "q3.q_vec")} AS cs
         |        FROM fin f, unnest(f.beam) AS u(id), embeddings e4, q q3
         |        WHERE e4.vec_id = u.id AND q3.q_id = f.q_id),
         |top1 AS (SELECT q_id, id AS found_id, cs AS found_cos FROM sc2
         |         QUALIFY row_number() OVER (PARTITION BY q_id
         |           ORDER BY cs DESC, id) = 1),
         |tr AS (SELECT q_id, vec_id AS true_id, c AS true_cos FROM (
         |        SELECT q.q_id, e.vec_id, ${cosSql("e.embedding", "q.q_vec")} AS c,
         |               row_number() OVER (PARTITION BY q.q_id
         |                 ORDER BY ${cosSql("e.embedding", "q.q_vec")} DESC, e.vec_id) AS rk
         |        FROM embeddings e, q WHERE e.vec_id <> q.q_id) WHERE rk = 1)
         |SELECT t.q_id, found_id, found_cos, true_id, true_cos,
         |       found_id = true_id AS hit,
         |       list_contains(f.beam, true_id) AS beam_hit
         |FROM top1 t JOIN tr USING (q_id) JOIN fin f USING (q_id)""".stripMargin,
    "sim_kcenter" ->
      s"""WITH RECURSIVE cm AS (
         |  SELECT a.vec_id AS i, b.vec_id AS j,
         |         ${cosSql("a.embedding", "b.embedding")} AS c
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
         |sel(r, chosen, vid, mc) AS (
         |  SELECT 1, [(SELECT MIN(vec_id) FROM embeddings)],
         |         (SELECT MIN(vec_id) FROM embeddings), CAST(NULL AS DOUBLE)
         |  UNION ALL
         |  SELECT r + 1, list_append(chosen, pick.j), pick.j, pick.mx
         |  FROM sel, LATERAL (
         |    SELECT j, mx FROM (
         |      SELECT cm.j AS j, MAX(cm.c) AS mx
         |      FROM cm WHERE list_contains(sel.chosen, cm.i)
         |                AND NOT list_contains(sel.chosen, cm.j)
         |      GROUP BY cm.j)
         |    ORDER BY mx ASC, j ASC LIMIT 1) pick
         |  WHERE sel.r < 8)
         |SELECT CAST(r AS BIGINT) AS sel_rank, vid AS vec_id, mc AS maxcos
         |FROM sel""".stripMargin,
    "sim_bfs_hops" ->
      s"""WITH RECURSIVE b AS MATERIALIZED (SELECT vec_id, embedding,
         |       ${srpSql("embedding", 4)} AS bucket FROM embeddings),
         |scored AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         |             ${cosSql("a.embedding", "b.embedding")} AS cos
         |           FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |knn AS MATERIALIZED (SELECT vec_id, nbr_id FROM (
         |        SELECT vec_id, nbr_id, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cos DESC, nbr_id) AS rk FROM scored) WHERE rk <= 5),
         |edges AS MATERIALIZED (SELECT vec_id AS src, nbr_id AS dst FROM knn
         |        UNION SELECT nbr_id, vec_id FROM knn),
         |walk AS (SELECT vec_id AS id, 0 AS hop FROM embeddings WHERE vec_id % 100 = 0
         |         UNION ALL
         |         SELECT e.dst, w.hop + 1 FROM walk w JOIN edges e ON e.src = w.id
         |         WHERE w.hop < 4)
         |SELECT id AS vec_id, CAST(MIN(hop) AS BIGINT) AS hops FROM walk GROUP BY 1""".stripMargin,
    "sim_knn_classify" ->
      s"""WITH b AS MATERIALIZED (SELECT vec_id, embedding,
         |       ${srpSql("embedding", 4)} AS bucket FROM embeddings),
         |scored AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         |             ${cosSql("a.embedding", "b.embedding")} AS cos
         |           FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |knn AS MATERIALIZED (SELECT vec_id, nbr_id FROM (
         |        SELECT vec_id, nbr_id, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cos DESC, nbr_id) AS rk FROM scored) WHERE rk <= 5),
         |votes AS (SELECT k.vec_id, e.label AS nbr_label, COUNT(*) AS votes
         |          FROM knn k JOIN embeddings e ON k.nbr_id = e.vec_id
         |          GROUP BY k.vec_id, e.label),
         |pred AS (SELECT vec_id, nbr_label AS pred_label FROM votes
         |         QUALIFY row_number() OVER (PARTITION BY vec_id
         |           ORDER BY votes DESC, nbr_label ASC) = 1)
         |SELECT label, COUNT(*) AS n,
         |       CAST(SUM(CASE WHEN pred_label = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |       CAST(CAST(SUM(CASE WHEN pred_label = label THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS accuracy
         |FROM pred JOIN embeddings USING (vec_id)
         |GROUP BY label""".stripMargin,
    "sim_hard_negatives" ->
      s"""WITH a AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
         |           FROM embeddings WHERE vec_id % 100 = 0),
         |scored AS MATERIALIZED (
         |  SELECT q_id, q_label, vec_id, label,
         |         ${cosSql("embedding", "q_vec")} AS cos
         |  FROM embeddings, a WHERE vec_id <> q_id),
         |negs AS (SELECT q_id, 'neg' AS kind,
         |           CAST(row_number() OVER (PARTITION BY q_id
         |             ORDER BY cos DESC, vec_id) AS BIGINT) AS rk,
         |           vec_id, label, cos
         |         FROM scored WHERE label <> q_label QUALIFY rk <= 3),
         |pos AS (SELECT q_id, 'pos' AS kind,
         |          CAST(row_number() OVER (PARTITION BY q_id
         |            ORDER BY cos ASC, vec_id) AS BIGINT) AS rk,
         |          vec_id, label, cos
         |        FROM scored WHERE label = q_label QUALIFY rk <= 1)
         |SELECT * FROM negs UNION ALL SELECT * FROM pos""".stripMargin,
    "sim_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 100 = 0),
         |scored AS (SELECT q_id, vec_id, ${cosSql("embedding", "q_vec")} AS cos
         |           FROM embeddings, q WHERE vec_id <> q_id)
         |SELECT q_id, vec_id, cos FROM scored
         |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 10""".stripMargin,
    "sim_recall_report" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 100 = 0),
         |bscored AS (SELECT q_id, vec_id, ${cosSql("embedding", "q_vec")} AS cos
         |            FROM embeddings, q WHERE vec_id <> q_id),
         |t AS (SELECT q_id, vec_id FROM bscored
         |      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 10),
         |bc AS (SELECT vec_id, embedding, ${srpSql("embedding", 4)} AS bucket FROM embeddings),
         |bq AS (SELECT vec_id AS q_id, embedding AS q_vec, ${srpSql("embedding", 4)} AS bucket
         |       FROM embeddings WHERE vec_id % 100 = 0),
         |lscored AS (SELECT q_id, vec_id, ${cosSql("embedding", "q_vec")} AS cos
         |            FROM bc JOIN bq USING (bucket) WHERE vec_id <> q_id),
         |l AS (SELECT q_id, vec_id FROM lscored
         |      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 10)
         |SELECT t.q_id, COUNT(*) AS n_truth,
         |  CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
         |  CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS recall
         |FROM t LEFT JOIN l ON t.q_id = l.q_id AND t.vec_id = l.vec_id
         |GROUP BY t.q_id""".stripMargin,
    "sim_ann_sweep" -> {
      def cfg(bits: Int): String =
        s"""bc_$bits AS (SELECT vec_id, embedding, ${srpSql("embedding", bits)} AS bucket
           |          FROM embeddings),
           |bq_$bits AS (SELECT vec_id AS q_id, embedding AS q_vec,
           |            ${srpSql("embedding", bits)} AS bucket
           |          FROM embeddings WHERE vec_id % 100 = 0),
           |ls_$bits AS (SELECT q_id, vec_id, ${cosSql("embedding", "q_vec")} AS cos
           |          FROM bc_$bits JOIN bq_$bits USING (bucket) WHERE vec_id <> q_id),
           |l_$bits AS (SELECT q_id, vec_id FROM ls_$bits
           |          QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 10),
           |r_$bits AS (SELECT CAST($bits AS BIGINT) AS bits,
           |            CAST(COUNT(*) AS BIGINT) AS n_truth,
           |            CAST(SUM(CASE WHEN l_$bits.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found
           |          FROM t LEFT JOIN l_$bits
           |            ON t.q_id = l_$bits.q_id AND t.vec_id = l_$bits.vec_id)""".stripMargin
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 100 = 0),
         |bscored AS (SELECT q_id, vec_id, ${cosSql("embedding", "q_vec")} AS cos
         |            FROM embeddings, q WHERE vec_id <> q_id),
         |t AS (SELECT q_id, vec_id FROM bscored
         |      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 10),
         |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM embeddings),
         |${cfg(2)},
         |${cfg(4)},
         |${cfg(6)},
         |allr AS (SELECT * FROM r_2 UNION ALL SELECT * FROM r_4 UNION ALL SELECT * FROM r_6)
         |SELECT bits, n_truth, n_found,
         |  (1000 * n_found) // n_truth AS recall_milli,
         |  n_corpus // CAST(2 ** bits AS BIGINT) AS exp_candidates_per_q
         |FROM allr, nc""".stripMargin
    },
    "sim_ivf_sweep" -> {
      def cfg(np: Int): String =
        s"""p_$np AS (SELECT q_id, q_vec, c_label AS cent FROM qp
           |       QUALIFY row_number() OVER (PARTITION BY q_id
           |         ORDER BY qc DESC, c_label) <= $np),
           |c_$np AS (SELECT p.q_id, a.vec_id,
           |            ${cosSql("a.embedding", "p.q_vec")} AS cos
           |          FROM asg a JOIN p_$np p ON a.cent = p.cent
           |          WHERE a.vec_id <> p.q_id),
           |l_$np AS (SELECT q_id, vec_id FROM c_$np
           |       QUALIFY row_number() OVER (PARTITION BY q_id
           |         ORDER BY cos DESC, vec_id) <= 10),
           |r_$np AS (SELECT CAST($np AS BIGINT) AS nprobe,
           |            CAST(COUNT(*) AS BIGINT) AS n_truth,
           |            CAST(SUM(CASE WHEN l_$np.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           |              AS BIGINT) AS n_found
           |          FROM t LEFT JOIN l_$np
           |            ON t.q_id = l_$np.q_id AND t.vec_id = l_$np.vec_id)""".stripMargin
      s"""WITH comp AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         |                     unnest(embedding) AS v FROM embeddings),
         |cd AS (SELECT label, pos, CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS cv
         |       FROM comp GROUP BY label, pos),
         |cents AS MATERIALIZED (SELECT label AS c_label, list(cv ORDER BY pos) AS c_vec
         |         FROM cd GROUP BY label),
         |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 100 = 0),
         |bscored AS (SELECT q_id, vec_id, ${cosSql("embedding", "q_vec")} AS cos
         |            FROM embeddings, q WHERE vec_id <> q_id),
         |t AS MATERIALIZED (SELECT q_id, vec_id FROM bscored
         |      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 10),
         |asg0 AS (SELECT vec_id, embedding, c_label,
         |           ${cosMixedSql("embedding", "c_vec")} AS cc
         |         FROM embeddings, cents),
         |asg AS MATERIALIZED (SELECT vec_id, embedding, c_label AS cent FROM asg0
         |       QUALIFY row_number() OVER (PARTITION BY vec_id
         |         ORDER BY cc DESC, c_label) = 1),
         |qp AS MATERIALIZED (SELECT q_id, q_vec, c_label,
         |        ${cosMixedSql("q_vec", "c_vec")} AS qc
         |      FROM q, cents),
         |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cents FROM cents),
         |${cfg(1)},
         |${cfg(2)},
         |${cfg(4)},
         |allr AS (SELECT * FROM r_1 UNION ALL SELECT * FROM r_2 UNION ALL SELECT * FROM r_4)
         |SELECT nprobe, n_truth, n_found,
         |  (1000 * n_found) // n_truth AS recall_milli,
         |  (1000 * nprobe) // n_cents AS scanned_permille
         |FROM allr, nc""".stripMargin
    },
    "sim_lsh" ->
      s"""WITH bc AS (SELECT vec_id, embedding, ${srpSql("embedding", 4)} AS bucket FROM embeddings),
         |bq AS (SELECT vec_id AS q_id, embedding AS q_vec, ${srpSql("embedding", 4)} AS bucket
         |       FROM embeddings WHERE vec_id % 100 = 0),
         |scored AS (SELECT q_id, vec_id, ${cosSql("embedding", "q_vec")} AS cos
         |           FROM bc JOIN bq USING (bucket) WHERE vec_id <> q_id)
         |SELECT q_id, vec_id, cos FROM scored
         |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 10""".stripMargin,
    "sim_pairs" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
         |                UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings),
         |b AS (SELECT vec_id, embedding, ${srpSql("embedding", 16)} AS bucket FROM corpus),
         |pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |                 ${cosSql("a.embedding", "b.embedding")} AS cos
         |          FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, cos FROM pairs WHERE cos >= 0.999""".stripMargin,
    "sim_pairs_capped" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
         |                UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings),
         |b AS (SELECT vec_id, embedding, ${srpSql("embedding", 8)} AS bucket FROM corpus),
         |kept AS (SELECT bucket FROM b GROUP BY bucket HAVING COUNT(*) <= 4),
         |cb AS (SELECT vec_id, embedding, bucket FROM b JOIN kept USING (bucket)),
         |pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |                 ${cosSql("a.embedding", "b.embedding")} AS cos
         |          FROM cb a JOIN cb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, cos FROM pairs WHERE cos >= 0.999""".stripMargin,
    // The rewrite rule's contract: the Spark side declares ONLY the
    // cosine predicate; the oracle spells the srp-bucket conjunction the
    // rule adds (16-bit buckets).
    "sim_pairs_rewrite" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
         |                UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings),
         |b AS (SELECT vec_id, embedding, ${srpSql("embedding", 16)} AS bucket FROM corpus),
         |pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |                 ${cosSql("a.embedding", "b.embedding")} AS cos
         |          FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, cos FROM pairs WHERE cos >= 0.999""".stripMargin,
    "sim_quantize" ->
      s"""WITH m_t AS (SELECT vec_id, label, embedding,
         |  list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS m
         |  FROM embeddings),
         |q_t AS (SELECT vec_id, label,
         |  CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END AS scale,
         |  list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) *
         |    CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END) AS BIGINT)) AS q
         |FROM m_t)
         |SELECT vec_id, label, scale,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), q), (acc, v) -> acc + v) AS q_sum,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(q, v -> abs(v))),
         |    (acc, v) -> acc + v) AS q_l1,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(q, v -> v * v)),
         |    (acc, v) -> acc + v) AS q_dot
         |FROM q_t""".stripMargin,
    "sim_ivf_balance" ->
      s"""WITH comp AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         |                     unnest(embedding) AS v FROM embeddings),
         |cd AS (SELECT label, pos, CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS cv
         |       FROM comp GROUP BY label, pos),
         |cents AS (SELECT label AS c_label, list(cv ORDER BY pos) AS c_vec FROM cd GROUP BY label),
         |scored AS (SELECT vec_id, c_label,
         |                  ${cosMixedSql("embedding", "c_vec")} AS cos
         |           FROM embeddings, cents),
         |best AS (SELECT vec_id, c_label,
         |                row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label) AS rk
         |         FROM scored),
         |l AS (SELECT c_label, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM best WHERE rk = 1 GROUP BY 1),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM l)
         |SELECT c_label, n, (1000 * n) // total AS share_milli,
         |  10 * 1000 * n > 2000 * total AS oversized
         |FROM l CROSS JOIN t""".stripMargin,
    "sim_ivf" ->
      s"""WITH comp AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         |                     unnest(embedding) AS v FROM embeddings),
         |cd AS (SELECT label, pos, CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS cv
         |       FROM comp GROUP BY label, pos),
         |cents AS (SELECT label AS c_label, list(cv ORDER BY pos) AS c_vec FROM cd GROUP BY label),
         |scored AS (SELECT vec_id, label, c_label,
         |                  ${cosMixedSql("embedding", "c_vec")} AS cos
         |           FROM embeddings, cents),
         |best AS (SELECT vec_id, label, c_label,
         |                row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label) AS rk
         |         FROM scored)
         |SELECT label, c_label, COUNT(*) AS n FROM best WHERE rk = 1 GROUP BY label, c_label""".stripMargin,
    "sim_ivf_pq" -> ivfPqOracleSql,
    // sim_index_persist: search runs from the persisted index tables on
    // the Spark side; the oracle is DELIBERATELY the identical
    // from-scratch spelling as sim_ivf_pq — the green hash is the
    // index-equals-scratch proof.
    "sim_index_persist" -> ivfPqOracleSql,
    // sim_index_delta: Spark searches persisted index ∪ on-the-fly delta
    // codes; the oracle recomputes from scratch over corpus ∪ delta with
    // centroids/codebook from the ORIGINAL corpus only.
    "sim_index_delta" -> ivfPqDeltaOracleSql,
    // sim_index_compact: Spark folds the delta into a generation-2
    // index table and searches ONLY the reopened merged table; the
    // oracle is the same corpus ∪ delta from-scratch spelling — the
    // green hash is the compaction-preserves-search proof.
    "sim_index_compact" -> ivfPqDeltaOracleSql,
    "sim_index_delete" -> ivfPqDeleteOracleSql)

  /** The from-scratch IVF-PQ search spelling, parameterized for the
    * DELETE act: `codesFilter` drops tombstoned rows from the code
    * relation ONLY (the coarse model and codebook stay trained on the
    * full original corpus — deletion never retrains, exactly the
    * stale-coarse-model semantics the persisted index implements) and
    * `qFilter` restricts the query set to survivors. */
  private def ivfPqSearchOracleSql(codesFilter: String, qFilter: String): String =
      s"""WITH comp AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         |                     unnest(embedding) AS v FROM embeddings),
         |cd AS (SELECT label, pos, CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS cv
         |       FROM comp GROUP BY label, pos),
         |cents AS (SELECT label AS c_label, list(cv ORDER BY pos) AS c_vec FROM cd GROUP BY label),
         |scored AS (SELECT vec_id, c_label, ${cosMixedSql("embedding", "c_vec")} AS cos
         |           FROM embeddings, cents),
         |best AS (SELECT vec_id, c_label FROM (
         |           SELECT vec_id, c_label,
         |             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label) AS rk
         |           FROM scored) WHERE rk = 1),
         |resid AS (SELECT e.vec_id, b.c_label,
         |            list_transform(range(1, len(embedding) + 1),
         |              i -> CAST(floor((CAST(embedding[i] AS DOUBLE) - c_vec[i]) * 1000)
         |                   AS BIGINT)) AS emb
         |          FROM embeddings e JOIN best b USING (vec_id)
         |          JOIN cents c ON b.c_label = c.c_label),
         |sub AS (SELECT vec_id, c_label, s, emb[s*8 + 1 : s*8 + 8] AS sv
         |        FROM resid, (SELECT unnest(range(0, 8)) AS s)),
         |cb AS (SELECT vec_id AS code, s, emb[s*8 + 1 : s*8 + 8] AS cw
         |       FROM resid, (SELECT unnest(range(0, 8)) AS s)
         |       WHERE vec_id < 4),
         |d AS (SELECT vec_id, c_label, sub.s AS s, code,
         |        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
         |          i -> (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)) *
         |               (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)))),
         |          (a, b) -> a + b) AS dist
         |      FROM sub JOIN cb USING (s)),
         |codes AS (SELECT vec_id, c_label, s, code FROM (
         |            SELECT vec_id, c_label, s, code,
         |              row_number() OVER (PARTITION BY vec_id, s
         |                ORDER BY dist, code) AS rk FROM d) WHERE rk = 1$codesFilter),
         |q AS (SELECT vec_id AS q_id, c_label, s, emb[s*8 + 1 : s*8 + 8] AS sv
         |      FROM resid, (SELECT unnest(range(0, 8)) AS s)
         |      WHERE vec_id % 100 = 0$qFilter),
         |dt AS (SELECT q_id, q.c_label AS c_label, q.s AS s, code,
         |        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
         |          i -> (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)) *
         |               (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)))),
         |          (a, b) -> a + b) AS d
         |       FROM q JOIN cb USING (s)),
         |ad AS (SELECT q_id, vec_id,
         |         CAST(SUM(CAST(d AS DECIMAL(38,6))) AS DOUBLE) AS adist
         |       FROM codes JOIN dt USING (c_label, s, code)
         |       GROUP BY q_id, vec_id HAVING COUNT(*) = 8)
         |SELECT q_id, vec_id, adist FROM (
         |  SELECT q_id, vec_id, adist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rk
         |  FROM ad) WHERE rk <= 5""".stripMargin

  private lazy val ivfPqOracleSql: String = ivfPqSearchOracleSql("", "")

  // sim_index_delete: Spark drops the tombstoned ids' code rows at
  // compaction and searches the reopened generation-3 table; the
  // oracle recomputes from scratch over corpus∖deleted with the FULL
  // corpus's coarse model and codebook — the green hash pins
  // search-after-delete == from-scratch-on-survivors.
  private lazy val ivfPqDeleteOracleSql: String =
    ivfPqSearchOracleSql(" AND vec_id % 11 <> 5", " AND vec_id % 11 <> 5")

  private lazy val ivfPqDeltaOracleSql: String =
    s"""WITH comp AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
       |                     unnest(embedding) AS v FROM embeddings),
       |cd AS (SELECT label, pos, CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS cv
       |       FROM comp GROUP BY label, pos),
       |cents AS (SELECT label AS c_label, list(cv ORDER BY pos) AS c_vec FROM cd GROUP BY label),
       |delta AS (SELECT vec_id + 1000000 AS vec_id, list_reverse(embedding) AS embedding
       |          FROM embeddings WHERE vec_id % 7 = 3),
       |allv AS (SELECT vec_id, embedding FROM embeddings
       |         UNION ALL SELECT vec_id, embedding FROM delta),
       |scored AS (SELECT vec_id, c_label, ${cosMixedSql("embedding", "c_vec")} AS cos
       |           FROM allv, cents),
       |best AS (SELECT vec_id, c_label FROM (
       |           SELECT vec_id, c_label,
       |             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label) AS rk
       |           FROM scored) WHERE rk = 1),
       |resid AS (SELECT e.vec_id, b.c_label,
       |            list_transform(range(1, len(embedding) + 1),
       |              i -> CAST(floor((CAST(embedding[i] AS DOUBLE) - c_vec[i]) * 1000)
       |                   AS BIGINT)) AS emb
       |          FROM allv e JOIN best b USING (vec_id)
       |          JOIN cents c ON b.c_label = c.c_label),
       |sub AS (SELECT vec_id, c_label, s, emb[s*8 + 1 : s*8 + 8] AS sv
       |        FROM resid, (SELECT unnest(range(0, 8)) AS s)),
       |cb AS (SELECT vec_id AS code, s, emb[s*8 + 1 : s*8 + 8] AS cw
       |       FROM resid, (SELECT unnest(range(0, 8)) AS s)
       |       WHERE vec_id < 4),
       |d AS (SELECT vec_id, c_label, sub.s AS s, code,
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
       |          i -> (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)) *
       |               (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)))),
       |          (a, b) -> a + b) AS dist
       |      FROM sub JOIN cb USING (s)),
       |codes AS (SELECT vec_id, c_label, s, code FROM (
       |            SELECT vec_id, c_label, s, code,
       |              row_number() OVER (PARTITION BY vec_id, s
       |                ORDER BY dist, code) AS rk FROM d) WHERE rk = 1),
       |q AS (SELECT vec_id AS q_id, c_label, s, emb[s*8 + 1 : s*8 + 8] AS sv
       |      FROM resid, (SELECT unnest(range(0, 8)) AS s)
       |      WHERE vec_id % 100 = 0 AND vec_id < 1000000),
       |dt AS (SELECT q_id, q.c_label AS c_label, q.s AS s, code,
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
       |          i -> (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)) *
       |               (CAST(sv[i] AS DOUBLE) - CAST(cw[i] AS DOUBLE)))),
       |          (a, b) -> a + b) AS d
       |       FROM q JOIN cb USING (s)),
       |ad AS (SELECT q_id, vec_id,
       |         CAST(SUM(CAST(d AS DECIMAL(38,6))) AS DOUBLE) AS adist
       |       FROM codes JOIN dt USING (c_label, s, code)
       |       GROUP BY q_id, vec_id HAVING COUNT(*) = 8)
       |SELECT q_id, vec_id, adist FROM (
       |  SELECT q_id, vec_id, adist,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rk
       |  FROM ad) WHERE rk <= 5""".stripMargin
}
