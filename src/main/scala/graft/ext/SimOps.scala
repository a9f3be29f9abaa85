package graft.ext

import graft.core.QueryCaches
import graft.functions.HashExprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity-search primitives over embedding columns
  * (`array<float>`) — LLM-pipeline pillar: approximate-nearest-neighbor
  * at 100 TB. Extension beyond the reference surface (SURVEY.md §2.2).
  *
  * The kernels (cosine, SRP-LSH bucket) are native Catalyst
  * expressions ([[graft.functions.HashExprs]]): one pass per row over
  * the vector, float→double casts exact, LEFT-TO-RIGHT folds — the
  * identical order DuckDB's `list_reduce` uses, so scores are
  * bit-identical across engines at any parallelism (similarity math is
  * per-row; only counts/top-k cross rows).
  *
  * Scale posture:
  *   - Brute-force top-k: broadcast the (small) query set, one corpus
  *     scan, per-query rank — no corpus collect, no shuffle of the
  *     corpus except the final (queries × k)-bounded rank exchange.
  *   - LSH path: sign-random-projection buckets (deterministic
  *     integer-hash hyperplanes) — candidates meet only inside buckets,
  *     the same shuffle-by-bucket shape as MinHash dedup. At 1000
  *     executors the bucket join shuffles O(corpus) fixed-width rows,
  *     never O(corpus²) and never corpus × queries.
  */
object SimOps {

  /** Brute-force exact top-k neighbors: every (query, corpus) cosine,
    * ranked per query. `queries` must be small — it is broadcast, so
    * the corpus is scanned once and never shuffled pre-rank.
    * Deterministic tie-break on vec_id. */
  def topkBrute(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        HashExprs.cosineSim(col("embedding"), col("q_vec")).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .drop("rk")
  }

  /** Multi-probe SRP-LSH ANN top-k: each query probes its own bucket
    * PLUS every 1-bit-flipped neighbor bucket (the planes most likely
    * to have mis-signed a near neighbor). Recall rises from ~(1−φ/π)^b
    * toward 1 at the cost of (bits+1)× more QUERY-side rows — the
    * corpus is still scanned and bucketed exactly once, so at 100 TB
    * the extra work is only the (tiny) broadcast fan-out. */
  def topkLshMultiProbe(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bc = corpus.select(col("vec_id"), col("embedding"),
      HashExprs.srpBucket(col("embedding"), bits).as("bucket"))
    val probes = queries.select(col("q_id"), col("q_vec"),
        HashExprs.srpBucket(col("q_vec"), bits).as("b0"))
      .withColumn("flip", explode(sequence(lit(0), lit(bits))))
      // flip == bits probes the home bucket; otherwise XOR plane `flip`
      .select(col("q_id"), col("q_vec"),
        when(col("flip") === bits, col("b0"))
          .otherwise(expr(s"b0 ^ shiftleft(1L, flip)")).as("bucket"))
    bc.join(broadcast(probes), "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        HashExprs.cosineSim(col("embedding"), col("q_vec")).as("cos"))
      .distinct()
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .drop("rk")
  }

  /** IVF (inverted-file) ANN top-k: the corpus is assigned ONCE to its
    * nearest centroid (the coarse quantizer — at warehouse scale this
    * assignment is precomputed and the table is bucketed/partitioned by
    * `cent`); each query scores only the posting lists of its `nprobe`
    * nearest centroids. Work per query: O(nprobe × corpus/centroids)
    * instead of O(corpus). `centroids` must be small (labels × dims) —
    * broadcast on both sides. */
  /** Nearest-centroid assignment as an aggregate (max_by with a
    * deterministic (score, -c_id) tie-break): partial maxima combine
    * map-side, so the exchange moves one row per vector — a window
    * rank here would shuffle every (vector × centroid) score row.
    * Split out of [[topkIvf]] so a parameter sweep can persist ONE
    * assignment and probe it at several `nprobe` settings (at
    * warehouse scale the assignment is the table's physical
    * bucketing — computed once, not per query). */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("c_id"),
        HashExprs.cosineSim(col("embedding"), col("c_vec")).as("cc"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("embedding"), col("c_id")),
        struct(col("cc"), (-col("c_id")).as("nc"))).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.c_id").as("cent"))

  def topkIvf(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    topkIvfAssigned(ivfAssign(corpus, centroids), queries, centroids, k, nprobe)

  /** The probe phase of [[topkIvf]] over a precomputed (or persisted)
    * [[ivfAssign]] relation. */
  def topkIvfAssigned(assigned: DataFrame, queries: DataFrame,
      centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = queries.crossJoin(broadcast(centroids))
      .select(col("q_id"), col("q_vec"), col("c_id"),
        HashExprs.cosineSim(col("q_vec"), col("c_vec")).as("qc"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("qc").desc, col("c_id"))))
      .filter(col("rk") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("c_id").as("cent"))
    assigned.join(broadcast(probes), "cent")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        HashExprs.cosineSim(col("embedding"), col("q_vec")).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .drop("rk")
  }

  /** Embedding near-duplicate pairs: SRP-bucket the corpus, pair
    * within buckets, verify with exact cosine ≥ `threshold`. Never
    * all-pairs. `maxBucket > 0` engages the hot-bucket skew guard —
    * buckets larger than the bound (embedding-space boilerplate:
    * zero-ish vectors, templated content) are dropped WHOLE before
    * pairing, the [[graft.ext.DedupOps.nearDupPairs]] contract on the
    * embedding pillar. The capped path collects only the bucket's
    * VECTOR IDS (8 bytes/member — a million-member boilerplate bucket
    * buffers ~8 MB, not hundreds of MB of vectors), drops oversized
    * buckets, generates ordered id pairs with two generators, then
    * joins the (cap-bounded, broadcast-able) pair set back to the
    * corpus for the exact-cosine verify — the candidates-then-lookup
    * shape of MinHash [[graft.ext.DedupOps.nearDupPairs]]. The
    * uncapped path keeps the spilling self-join.
    * Returns (vec_a, vec_b, cos). */
  def embNearDupPairs(corpus: DataFrame, bits: Int, threshold: Double,
      maxBucket: Int = 0): DataFrame = {
    val b = corpus.select(col("vec_id"), col("embedding"),
      HashExprs.srpBucket(col("embedding"), bits).as("bucket"))
    val scored =
      if (maxBucket > 0) {
        val pairs = b.groupBy(col("bucket"))
          .agg(collect_list(col("vec_id")).as("ms"))
          .filter(size(col("ms")).between(2, maxBucket))
          .select(explode(col("ms")).as("vec_a"), col("ms"))
          .select(col("vec_a"), explode(col("ms")).as("vec_b"))
          .filter(col("vec_a") < col("vec_b"))
        val e = corpus.select(col("vec_id"), col("embedding"))
        pairs
          .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
          .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
          .select(col("vec_a"), col("vec_b"), HashExprs.cosineSim(col("emb_a"), col("emb_b")).as("cos"))
      } else
        b.as("a").join(b.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
            HashExprs.cosineSim(col("a.embedding"), col("b.embedding")).as("cos"))
    scored.filter(col("cos") >= threshold)
  }

  /** Per-label centroids with decimal-exact (order-independent) means:
    * (c_id, c_vec) — the coarse quantizer for [[topkIvf]]. */
  def labelCentroids(corpus: DataFrame, labelCol: String): DataFrame =
    corpus.select(col(labelCol), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col(labelCol), col("pos"))
      .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
        .cast("double") / count(lit(1))).as("cv"))
      .groupBy(col(labelCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x("cv")).as("c_vec"))
      .select(col(labelCol).cast("long").as("c_id"), col("c_vec"))

  /** Full Lloyd's loop (spherical k-means on cosine): `iters` rounds of
    * assign-to-nearest-centroid + decimal-exact centroid recompute.
    * Seeds are the k lowest-id vectors (deterministic — no RNG). Per
    * round the ONLY driver materialization is the k × dims centroid
    * table (the `dupClusters` per-round-scalar pattern; the corpus
    * never leaves the executors), re-entering the next round's plan as
    * a broadcast literal relation, so each round's assignment is one
    * corpus scan + a map-side-combined argmax — one row per vector
    * crosses the shuffle. Empty clusters carry their previous centroid
    * forward (deterministic cluster identity). Returns the final
    * (vec_id, c_id, cos) assignment, computed lazily against the last
    * centroids. A 100 TB run costs `iters` scans — the canonical
    * distributed k-means shape; the declared `sim_kmeans` row pins one
    * round's arithmetic to the DuckDB oracle, this loop composes it. */
  def kmeans(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val e = corpus.select(col("vec_id"), col("embedding"))
    var cents: Array[(Long, Seq[Double])] = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .as[(Long, Seq[Double])].collect()
      .zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    def assign(cs: Array[(Long, Seq[Double])]): DataFrame = {
      val cdf = cs.toSeq.toDF("c_id", "c_vec")
      e.crossJoin(broadcast(cdf))
        .select(col("vec_id"), col("embedding"), col("c_id"),
          HashExprs.cosineSim(col("embedding"), col("c_vec")).as("cc"))
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("embedding"), col("c_id")),
          struct(col("cc"), (-col("c_id")).as("nc"))).as("best"),
          max(col("cc")).as("cos"))
        .select(col("vec_id"), col("best.embedding").as("embedding"),
          col("best.c_id").as("c_id"), col("cos"))
    }
    // `iters` full Lloyd rounds (assign + recompute); the returned
    // assignment is against the LAST recomputed centroids, so
    // iters = 1 performs exactly one genuine update of the seeds.
    for (_ <- 0 until iters) {
      val next = labelCentroids(assign(cents), "c_id")
        .as[(Long, Seq[Double])].collect().toMap
      cents = cents.map { case (id, old) => (id, next.getOrElse(id, old)) }
    }
    assign(cents).select(col("vec_id"), col("c_id"), col("cos"))
  }

  /** Bucketed k-NN graph: every vector's top-k cosine neighbors among
    * its SRP bucket-mates — the all-N analog of [[topkLsh]] where the
    * "query set" IS the corpus, so nothing is broadcast: the bucket
    * equi-join is a SHUFFLE join keyed on the bucket id (both sides
    * O(N) fixed-width rows), then a per-source rank bounded by the
    * bucket population. This is the standard kNN-graph build behind
    * graph-based dedup, diversity sampling and label propagation; at
    * 100 TB it shuffles O(N) rows twice (bucket join + rank exchange),
    * never O(N²), and `maxBucket` (via [[capBuckets]]-style pre-drop)
    * bounds boilerplate buckets exactly like the pairing ops.
    * Returns (vec_id, rk, nbr_id, cos), rk in 1..k. */
  def knnGraph(corpus: DataFrame, k: Int, bits: Int, maxBucket: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r18 kernel-in-Filter triage round 2 — MEASURED AND REJECTED (the
    // r17 audit left the sim family's isnotnull(graft_srp_bucket(...))
    // double-eval with a rationale but no number at scale): this
    // relation feeds both sides of the self-join and the inferred
    // join-key null filter pushes into each side's scan, so the SRP
    // kernel evaluates up to 4× per corpus row. A query-scoped persist
    // (the prefixJoin pushdown-barrier pattern) was trialed under the
    // SPARK_GRAFT_BENCH_SCALE=8 probe (sf0.1 inputs replicated 8×,
    // interleaved min-of-4 Profile reps): sim_graph_search 10.22 →
    // 10.36 s, sim_link_predict 7.65 → 7.48 s — FLAT within noise even
    // with the kernel work inflated 8×, because srpBucket is `bits`(=4)
    // in-row dot products while the join+rank exchanges dominate; the
    // persist also caches the full embedding payload a second time
    // (callers already track the corpus relation). Unlike prefixJoin's
    // shingle kernel (per-token polynomial fold over whole documents),
    // this kernel is too cheap for the barrier to pay. Left
    // unpersisted; revisit only if `bits` grows an order of magnitude.
    val b0 = corpus.select(col("vec_id"), col("embedding"),
      HashExprs.srpBucket(col("embedding"), bits).as("bucket"))
    val b = if (maxBucket > 0) {
      val kept = b0.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .filter(col("n") <= maxBucket).select(col("bucket"))
      b0.join(kept, "bucket")
    } else b0
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
        HashExprs.cosineSim(col("a.embedding"), col("b.embedding")).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nbr_id"))).cast("bigint"))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("rk"), col("nbr_id"), col("cos"))
  }

  /** LSH-bucketed ANN top-k: corpus and queries are both bucketed by
    * [[HashExprs.srpBucket]]; candidates are corpus rows in the query's bucket
    * (equi-join on the bucket id — shuffle-by-bucket, never all-pairs),
    * then exact cosine + per-query rank within candidates. Recall is
    * tuned by `bits` (fewer bits → bigger buckets → higher recall,
    * more compute). */
  def topkLsh(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bc = corpus.select(col("vec_id"), col("embedding"),
      HashExprs.srpBucket(col("embedding"), bits).as("bucket"))
    val bq = broadcast(queries.select(col("q_id"), col("q_vec"),
      HashExprs.srpBucket(col("q_vec"), bits).as("bucket")))
    bc.join(bq, "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        HashExprs.cosineSim(col("embedding"), col("q_vec")).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .drop("rk")
  }

  // ---- Product quantization (encode + asymmetric-distance search) ----

  /** Zip-then-left-fold squared L2 between two float-array columns
    * referenced BY NAME — the ONE spelling of the PQ distance, shared
    * by encode, search and the declared `sim_pq` query so the IEEE
    * fold order can never diverge from the DuckDB oracle's
    * list_transform + list_reduce(list_prepend(0.0, …)) form. */
  private def sqL2(a: String, b: String): Column = expr(
    s"aggregate(zip_with($a, $b, (x, y) -> " +
      "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), " +
      "CAST(0 AS DOUBLE), (acc, v) -> acc + v)")

  /** PQ-encode `corpus`: each vector's M subvectors of `sub` dims are
    * assigned to their nearest codeword (squared L2, ties → lowest
    * code) from `codebook` rows (code, s, cw: array&lt;float&gt;). Output
    * (vec_id, s, code, dist) — M fixed-width rows per vector, the
    * compressed representation downstream search consumes (dist = the
    * subspace quantization error, free from the same argmax). The
    * codebook (M×K tiny rows) broadcasts; assignment is a
    * map-side-combined argmax. */
  def pqEncode(corpus: DataFrame, codebook: DataFrame, m: Int, sub: Int): DataFrame = {
    val sv = corpus
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(m - 1))).as("s"))
      .select(col("vec_id"), col("s"),
        expr(s"slice(embedding, s * $sub + 1, $sub)").as("sv"))
    sv.join(broadcast(codebook), "s")
      .select(col("vec_id"), col("s"), col("code"), (-sqL2("sv", "cw")).as("negd"))
      .groupBy(col("vec_id"), col("s"))
      .agg(max_by(col("code"), struct(col("negd"), (-col("code")).as("nc"))).as("code"),
        (-max(col("negd"))).as("dist"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    * FULL-PRECISION and precomputes its distance to every codeword
    * ((q_id, s, code, d) — queries × M × K rows, broadcast); each
    * encoded vector's approximate distance is then Σ_s d[s, code_s] —
    * a lookup-sum over its M code rows, no vector math per candidate.
    * This is how PQ indexes scan billions of vectors: the corpus-side
    * exchange carries (vec_id, s, code) triples partially aggregated
    * map-side to one row per (query, vector), 256× less data than the
    * raw vectors. Exact re-rank of the top candidates (here: none —
    * callers re-rank against the full vectors if needed) trades recall
    * for that compression. Returns (q_id, vec_id, adist), k smallest
    * approximate distances per query, ties → lowest vec_id. */
  def pqTopk(codes: DataFrame, queries: DataFrame, codebook: DataFrame,
      k: Int, m: Int, sub: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qsv = queries
      .select(col("q_id"), col("q_vec"),
        explode(sequence(lit(0), lit(m - 1))).as("s"))
      .select(col("q_id"), col("s"),
        expr(s"slice(q_vec, s * $sub + 1, $sub)").as("sv"))
    val dtable = broadcast(qsv.join(codebook, "s")
      .select(col("q_id"), col("s"), col("code"), sqL2("sv", "cw").as("d")))
    codes.join(dtable, Seq("s", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      // decimal-quantized sum: associative, so adist is identical at
      // any shuffle order — two vectors with the same codes ALWAYS tie
      // exactly (a raw double sum could differ in the last ulp by
      // addition order and flip ranks nondeterministically). Scale 6,
      // not 18: Spark's double→decimal cast rounds the SHORTEST string
      // repr while DuckDB expands the exact binary value, so the two
      // agree only when the quantum (1e-6) dwarfs the ~5e-17 repr gap
      // — the same trade as Tables.dsum, and what makes the ranking
      // oracle-hashable cross-engine (sim_pq_topk).
      .agg(sum(col("d").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
        .cast("double").as("adist"), count(lit(1)).as("nsub"))
      // only vectors with all M subspace lookups present rank (guards
      // against a truncated codes relation miscounting as "close")
      .filter(col("nsub") === m)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adist"), col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("adist"))
  }

  /** IVF-restricted ADC top-k — [[pqTopk]] with the inverted-list
    * discipline: the distance-table join ALSO matches `listCol`, so
    * each query scores only candidates in its own coarse cell
    * (nprobe = 1; probe more cells by unioning the query rows with
    * alternate list ids before calling). This is the IVF-PQ scan
    * shape: the corpus-side exchange still carries only (list, s,
    * code) triples, but the join fan-out drops from |corpus| to
    * |corpus| / n_lists per query — the factor that makes
    * billion-vector ADC tractable. Same decimal-quantized sum and
    * all-M-subspaces guard as [[pqTopk]]. */
  def pqTopkWithin(codes: DataFrame, queries: DataFrame, codebook: DataFrame,
      k: Int, m: Int, sub: Int, listCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qsv = queries
      .select(col("q_id"), col(listCol), col("q_vec"),
        explode(sequence(lit(0), lit(m - 1))).as("s"))
      .select(col("q_id"), col(listCol), col("s"),
        expr(s"slice(q_vec, s * $sub + 1, $sub)").as("sv"))
    val dtable = broadcast(qsv.join(codebook, "s")
      .select(col("q_id"), col(listCol), col("s"), col("code"), sqL2("sv", "cw").as("d")))
    codes.join(dtable, Seq(listCol, "s", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
        .cast("double").as("adist"), count(lit(1)).as("nsub"))
      .filter(col("nsub") === m)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adist"), col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("adist"))
  }

  /** Deterministic codebook from the first K corpus vectors (the
    * [[graft.queries.SimQueries.simPq]] seeds): rows (code, s, cw).
    * Production: one [[kmeans]] per subspace instead. */
  def pqSeedCodebook(corpus: DataFrame, kCodes: Int, m: Int, sub: Int): DataFrame =
    corpus.filter(col("vec_id") < kCodes)
      .select(col("vec_id").as("code"), col("embedding"),
        explode(sequence(lit(0), lit(m - 1))).as("s"))
      .select(col("code"), col("s"),
        expr(s"slice(embedding, s * $sub + 1, $sub)").as("cw"))

  /** One-pass Gram matrix — the second-moment sums Σ x_i·x_j for
    * dimensions i ≤ j < `dims` of `vecCol`, the primitive under
    * covariance, PCA, and whitening: cov = (S_xy − S_x·S_y/n)/n is
    * driver-side arithmetic once these sums exist, and a 100 TB corpus
    * needs exactly ONE scan to get them. Each row expands to its
    * d(d+1)/2 upper-triangle products (floats widen to double BEFORE
    * the multiply — float×float would round differently than the
    * oracle), which the hash aggregate collapses map-side: the exchange
    * carries at most d(d+1)/2 groups per partition, independent of row
    * count. The decimal(38,6) accumulation makes the sums
    * association-proof at any parallelism ([[graft.queries.Tables.dsum]]
    * contract). Per-row CPU is O(d²) — at BERT-width (d=768) prefer a
    * typed Aggregator accumulating a primitive array per partition;
    * at pipeline-feature width (d ≤ 128) this plan wins on simplicity
    * and stays fully codegen'd. */
  /** Greedy k-center (farthest-point / Gonzalez) selection — the
    * diversity-sampling primitive of coreset curation: pick the vector
    * farthest (here: least-max-cosine) from everything picked so far,
    * k times. The 2-approximation guarantee of greedy k-center is what
    * makes it the standard "cover the embedding space with k exemplars"
    * op for training-data selection; the selection TRAJECTORY (rank,
    * id, max-cos at pick time) is the output, because the mc column is
    * the coverage radius curve — where it flattens is where more
    * exemplars stop buying diversity.
    *
    * Scale shape, mirroring [[kmeans]]: each of the k−1 rounds is ONE
    * distributed pass — chosen centers broadcast as a ≤k×dims literal
    * relation, per-vector max-cos computed in-row, and the global
    * argmin reduced via min_by over a (maxcos, vec_id) struct (total
    * order, deterministic at any parallelism); the driver sync is a
    * single row (id + maxcos + dims doubles) per round, exactly the
    * bounded-scalar Lloyd sync. Seed = min vec_id (deterministic; a
    * production caller seeds with a business-chosen exemplar). The
    * oracle spells the identical greedy loop as a recursive CTE with a
    * LATERAL argmin (NOTE: its cos relation must stay a PLAIN cte —
    * DuckDB silently yields an empty recursion when the recursive term
    * reads a MATERIALIZED one). */
  def kcenterGreedy(corpus: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val e = QueryCaches.track(
      corpus.select(col("vec_id"), col("embedding")))
    val seed = e.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .as[(Long, Seq[Double])].head()
    var chosen = Vector[(Long, Seq[Double], Option[Double])]((seed._1, seed._2, None))
    for (_ <- 2 to k) {
      val cdf = chosen.map { case (id, v, _) => (id, v) }.toDF("c_id", "c_vec")
      val ids = chosen.map(_._1)
      val p = e.filter(!col("vec_id").isin(ids: _*))
        .crossJoin(broadcast(cdf))
        .select(col("vec_id"), col("embedding"),
          HashExprs.cosineSim(col("embedding"), col("c_vec")).as("cc"))
        .groupBy(col("vec_id"))
        .agg(max(col("cc")).as("maxcos"), first(col("embedding")).as("emb"))
        .agg(min_by(struct(col("vec_id"), col("maxcos"), col("emb")),
          struct(col("maxcos"), col("vec_id"))).as("p"))
        .select(col("p.vec_id"), col("p.maxcos"),
          transform(col("p.emb"), _.cast("double")).as("v"))
        .as[(Long, Double, Seq[Double])].head()
      chosen :+= ((p._1, p._3, Some(p._2)))
    }
    chosen.zipWithIndex.map { case ((id, _, mc), i) => (i + 1L, id, mc) }
      .toDF("sel_rank", "vec_id", "maxcos")
  }

  /** Greedy best-first search over a neighbor graph — the query-time
    * half of graph-based ANN (the HNSW/NSG layer-0 idiom, where
    * [[knnGraph]] is the index-build half): from a fixed entry vertex,
    * repeatedly hop to the neighbor most similar to the query, stop
    * when no neighbor improves. All queries walk SIMULTANEOUSLY as one
    * small state relation — each round is one (cur→neighbors) edge
    * equi-join, one vec_id join against the persisted corpus for
    * candidate vectors, and one per-query max_by argmax; the state is
    * |queries| rows (checkpointed per round by [[QueryCaches.iterate]]),
    * so `maxSteps` rounds cost maxSteps bounded passes regardless of
    * corpus size — the whole point of graph ANN: query
    * cost scales with walk length × degree, not corpus size. Entry =
    * the smallest vec_id ≠ the query's own (deterministic; production
    * uses a hierarchy or medoid). Strict-improvement stopping; ties on
    * cos break to the smaller id, so the trajectory is replayable —
    * the oracle's recursive CTE walks the identical path. Walks can
    * get stuck at local optima (greedy on a 5-NN graph): report beside
    * the brute-force truth, so the hit rate is part of the hashed
    * surface exactly like sim_recall_report. */
  def graphSearchGreedy(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int,
      maxSteps: Int): DataFrame = {
    val e = QueryCaches.track(
      corpus.select(col("vec_id"), col("embedding")))
    val knn = knnGraph(e, k, bits).select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    val edges = QueryCaches.track(
      knn.unionAll(knn.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    val low2 = e.select(col("vec_id")).orderBy(col("vec_id")).limit(2)
      .collect().map(_.getLong(0))
    require(low2.length == 2, "graph search needs at least two vectors")
    val entry = queries.select(col("q_id"), col("q_vec"),
      when(col("q_id") === low2(0), low2(1)).otherwise(low2(0)).as("cur"))
    val seed = QueryCaches.checkpoint(
      entry.join(e.select(col("vec_id").as("cur"), col("embedding").as("cvec")), "cur")
        .select(col("q_id"), col("q_vec"), col("cur"),
          HashExprs.cosineSim(col("cvec"), col("q_vec")).as("cur_cos"),
          lit(0L).as("steps"), lit(false).as("done")))
    val walked = QueryCaches.iterate(seed, maxSteps) { state =>
      val live = state.filter(!col("done"))
      val cand = live.join(edges, live("cur") === edges("src"))
        .filter(col("dst") =!= col("q_id"))
        .join(e.select(col("vec_id").as("dst"), col("embedding").as("dvec")), "dst")
        .select(col("q_id"), col("dst"),
          HashExprs.cosineSim(col("dvec"), col("q_vec")).as("c"))
      val best = cand.groupBy(col("q_id"))
        .agg(max_by(struct(col("dst"), col("c")),
          struct(col("c"), (-col("dst")).as("nd"))).as("b"))
      state.join(best, Seq("q_id"), "left")
        .select(col("q_id"), col("q_vec"),
          when(!col("done") && col("b.c") > col("cur_cos"), col("b.dst"))
            .otherwise(col("cur")).as("cur"),
          when(!col("done") && col("b.c") > col("cur_cos"), col("b.c"))
            .otherwise(col("cur_cos")).as("cur_cos"),
          when(!col("done") && col("b.c") > col("cur_cos"), col("steps") + 1)
            .otherwise(col("steps")).as("steps"),
          (col("done") || col("b.c").isNull || col("b.c") <= col("cur_cos")).as("done"))
    }(_ => false)
    walked.select(col("q_id"), col("cur").as("found_id"),
      col("cur_cos").as("found_cos"), col("steps").as("n_steps"))
  }

  /** Beam search over the neighbor graph — [[graphSearchGreedy]] with
    * width > 1 (the ef-search knob of HNSW): state per query is the
    * top-`width` frontier by cosine plus the visited set, each round
    * expands EVERY beam member's neighbors, scores the unvisited ones,
    * and re-ranks (beam ∪ candidates) down to `width`. Greedy gets
    * stuck at the first local optimum; the beam keeps `width` escape
    * routes, which is exactly the recall-vs-work dial production graph
    * ANN exposes. Runs a FIXED `rounds` expansions (a drained frontier
    * just re-emits the converged beam), so the trajectory is replayable
    * — the oracle's recursive CTE carries the same (beam, visited)
    * lists and must agree on the final ranking.
    *
    * r17 plan slimming (guide §1.2 step 1 — fewer passes): beam and
    * visited fold as ONE state relation (q_id, id, cos, beam-flag) —
    * every visited row was scored when it entered, so the flag is free
    * — giving ONE localCheckpoint per round instead of two, and the
    * post-checkpoint `count()` materializations are gone outright
    * (localCheckpoint is EAGER — they were pure duplicate jobs).
    * Measured sf0.1 local[32]: 88 → 46 jobs, wall 4.8 → ~3 s, same
    * returned row set (hash-verified). Plan shape per round: beam-flag
    * rows ⋈ edges equi-join, anti-join against the full state (≤
    * width·deg candidate rows per query), one corpus vec lookup, one
    * per-query rank over ≤ width·(deg+1) rows — all relations are
    * query-count-sized, checkpointed per round by
    * [[QueryCaches.iterate]] like the greedy walk. */
  def beamSearch(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int,
      width: Int, rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = QueryCaches.track(
      corpus.select(col("vec_id"), col("embedding")))
    val knn = knnGraph(e, k, bits).select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    val edges = QueryCaches.track(
      knn.unionAll(knn.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    val q = QueryCaches.track(queries.select(col("q_id"), col("q_vec")))
    val low2 = e.select(col("vec_id")).orderBy(col("vec_id")).limit(2)
      .collect().map(_.getLong(0))
    require(low2.length == 2, "beam search needs at least two vectors")
    val entry = q.select(col("q_id"),
      when(col("q_id") === low2(0), low2(1)).otherwise(low2(0)).as("id"))
    // state: every visited vertex with its score; `inb` marks the
    // current beam (the entry vertex starts as the whole beam).
    val seed = QueryCaches.checkpoint(
      entry.join(e.select(col("vec_id").as("id"), col("embedding").as("ivec")), "id")
        .join(q, "q_id")
        .select(col("q_id"), col("id"), HashExprs.cosineSim(col("ivec"), col("q_vec")).as("cos"),
          lit(true).as("inb")))
    // rank candidates-for-the-beam first (inb-or-new rows), so
    // `rk <= width` selects exactly the rows the two-relation spelling
    // ranked over (old beam ∪ newly scored) with the same
    // (cos desc, id) order — visited non-beam rows sort after and can
    // never re-enter, which is the original invariant (they were
    // ranked out of the beam once and the beam only ever improves).
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("elig").desc, col("cos").desc, col("id"))
    val beam = QueryCaches.iterate(seed, rounds) { state =>
      val cand = state.filter(col("inb"))
        .join(edges, state("id") === edges("src"))
        .select(col("q_id"), col("dst").as("id")).distinct()
        .join(state.select(col("q_id"), col("id")), Seq("q_id", "id"), "left_anti")
        .filter(col("id") =!= col("q_id"))
      val scored = cand
        .join(e.select(col("vec_id").as("id"), col("embedding").as("ivec")), "id")
        .join(q, "q_id")
        .select(col("q_id"), col("id"), HashExprs.cosineSim(col("ivec"), col("q_vec")).as("cos"),
          lit(true).as("elig"))
      state.select(col("q_id"), col("id"), col("cos"), col("inb").as("elig"))
        .unionAll(scored)
        .withColumn("rk", row_number().over(w))
        .select(col("q_id"), col("id"), col("cos"),
          (col("elig") && col("rk") <= width).as("inb"))
    }(_ => false)
    beam.filter(col("inb")).select(col("q_id"), col("id"), col("cos"))
  }

  /** Multi-source BFS hop distances over an edge relation — frontier
    * expansion, the graph-suite primitive the components/label-prop/
    * k-core family still lacked (those converge on LABELS; this
    * computes DISTANCE, the quantity behind "how far is every vector
    * from a curated seed set" audits). Input: `edges(src, dst)`
    * (directed — caller symmetrizes for undirected graphs) and
    * `seeds(id)`. Output: (id, hops) for every vertex within
    * `maxHops`, hops = length of the shortest edge path from any seed.
    *
    * Per round: frontier ⋈ edges (vertex-keyed equi-join), distinct,
    * LEFT ANTI against visited (the BFS invariant — a vertex's first
    * discovery round IS its distance, so later rediscoveries are
    * dropped before they exist), then union into visited. The carried
    * state is ONE (id, hops) relation whose frontier is the rows with
    * hops = h−1, checkpointed per round by [[QueryCaches.iterate]]:
    * without the checkpoint round r's plan re-executes rounds 1..r−1
    * (the 3^rounds re-execution pathology k-core measured). The
    * per-round driver sync is one count of the new frontier — the
    * early-exit when it drains, which also bounds lineage: at 100 TB
    * this is exactly Pregel-style iteration staged to a work table per
    * superstep. The anti-join keeps the frontier MINIMAL (only
    * first-time vertices expand), so total work is O(edges within
    * maxHops of the seeds), not O(paths) — the property that separates
    * distributed BFS from the naive path-enumeration the oracle's
    * recursive CTE performs (affordable there only because the oracle
    * corpus is small). */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val e = QueryCaches.track(
      edges.select(col("src"), col("dst")))
    var h = 0L // the round `step` builds; `done` counts the vertices it discovered
    QueryCaches.iterate(
      QueryCaches.checkpoint(seeds.select(col("id"), lit(0L).as("hops"))), maxHops) { visited =>
      h += 1
      val frontier = visited.filter(col("hops") === h - 1)
      visited.unionAll(frontier.join(e, frontier("id") === e("src"))
        .select(col("dst").as("id")).distinct()
        .join(visited.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), lit(h).as("hops")))
    }(_.filter(col("hops") === h).count() == 0)
  }

  def gramMatrix(corpus: DataFrame, vecCol: String, dims: Int): DataFrame =
    corpus.select(explode(expr(
      s"""flatten(transform(sequence(0, ${dims - 1}), i ->
         |  transform(sequence(i, ${dims - 1}), j -> struct(
         |    cast(i as bigint) as i, cast(j as bigint) as j,
         |    cast($vecCol[i] as double) * cast($vecCol[j] as double) as p))))"""
        .stripMargin)).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.p").as("p"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("p").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast("double").as("s_xy"))
}
