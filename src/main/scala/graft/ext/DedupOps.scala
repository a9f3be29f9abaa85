package graft.ext

import graft.core.QueryCaches
import graft.functions.HashExprs
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deduplication primitives for large-scale training-data pipelines
  * (extension beyond the reference surface — SURVEY.md §2.2): exact
  * content fingerprints, MinHash signatures with banded LSH (the
  * shuffle-by-bucket near-dup plan that NEVER goes all-pairs), SimHash
  * bit signatures, and n-gram Jaccard.
  *
  * The sketch kernels are native Catalyst expressions
  * ([[graft.functions.HashExprs]]) — one imperative pass per row; the
  * equivalent nested higher-order-function columns re-evaluate their
  * argument arrays once per lambda invocation (bands × hashes × |fps|
  * work amplification — measured minutes-per-1000-rows, see HashExprs
  * scaladoc). Set algebra (Jaccard) stays on built-ins, which evaluate
  * once. Every function has an exact DuckDB spelling so the oracle
  * hash-matches.
  *
  * Scale posture (100 TB): near-dup candidate generation shuffles
  * (band, signature, doc_id) triples — tiny fixed-width rows — and
  * joins within buckets only. Hot buckets (boilerplate/spam clusters)
  * are the known skew risk: cap them with [[capBuckets]] before the
  * self-join, or salt the band key. Exact dedup is a hash groupBy on
  * the fingerprint — map-side combine, one shuffle of (fp, id) pairs.
  */
object DedupOps {

  /** Modulus shared by every hash here (fits products in 64-bit). */
  val P = HashExprs.P

  // ---- Query-scoped cache tracking -----------------------------------
  // Sketch relations are persisted because they feed several consumers
  // of the SAME query (Spark reuses no identical subplans). The persist
  // must not outlive the query (round-3 finding); see
  // [[graft.core.QueryCaches]] — the harness calls [[releaseCaches]]
  // after each query's terminal action.

  /** Unpersist every tracked frame/checkpoint (idempotent). */
  def releaseCaches(): Unit = graft.core.QueryCaches.release()

  /** Per-shingle polynomial fingerprints (content hash of each k-gram).
    * DuckDB: list_transform(shingles, s -> <fingerprint fold>). */
  def shingleFps(toks: Column, k: Int): Column = HashExprs.shingleFps(toks, k)

  /** MinHash signature: n permutation-hashes h_i(f) = (f·a_i +
    * 104729·(i+1)) mod P with a_i from [[graft.functions.HashKernels
    * .MH_A]] (64 independent splitmix64 constants), each taking the
    * min over the shingle-fp set; empty set → sentinel P. Classic
    * Broder sketch: agreement frequency between two signatures
    * estimates Jaccard similarity. The multipliers are independent
    * constants on purpose — any family linear in i factors to scalar
    * multiples of ONE hash and correlates the per-position argmins,
    * inflating the estimator on dissimilar sets (see the HashKernels
    * comment). DuckDB: same arithmetic with the multiplier table
    * inlined as a list literal (DedupQueries.minhashSql interpolates
    * MH_A — single source of truth). */
  def minhash(fps: Column, n: Int): Column = HashExprs.minhashSig(fps, n)

  /** Banded-LSH keys: fold each band of r signature rows into one
    * bucket id (seeded with the band index). Two docs sharing ANY
    * (band, sig) bucket become a candidate pair — P(candidate) ≈
    * 1-(1-j^r)^b, the LSH S-curve. DuckDB: list_transform(range(0,b),
    * j -> list_reduce(list_prepend(CAST(j AS BIGINT),
    *   list_slice(mh, j*r+1, j*r+r)), (s,x) -> (s*1000003 + x) % P)). */
  def bandSigs(mh: Column, b: Int, r: Int): Column = HashExprs.bandKeys(mh, b, r)

  /** Exact Jaccard over two fp arrays, set semantics: |A∩B| / |A∪B|
    * (array_intersect/array_union deduplicate in both engines; bigint /
    * bigint is IEEE double division in both). DuckDB:
    *   len(list_filter(list_distinct(a), x -> list_contains(b, x)))
    *     / len(list_distinct(list_concat(a, b))). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("bigint") /
      size(array_union(a, b)).cast("bigint")

  /** The full near-duplicate pipeline as one call: tokens → k-shingle
    * fingerprints → `hashes` minhashes → `bands` LSH bands → bucket
    * self-join (equi-join on (band, key) — never all-pairs) → exact
    * Jaccard verify at `threshold`. Returns (id_a, id_b, jaccard)
    * candidate pairs with id_a < id_b.
    *
    * `maxBucket` (optional) drops buckets larger than the bound before
    * the self-join — the boilerplate/spam skew guard ([[capBuckets]]).
    * The signature relation is persisted via [[QueryCaches.track]] — it
    * feeds 4 consumers and Spark reuses no identical subplans (at
    * warehouse scale, stage it to a work table instead); the harness
    * releases it after the query's terminal action ([[releaseCaches]]).
    */
  def nearDupPairs(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      k: Int = 3, hashes: Int = 64, bands: Int = 16, threshold: Double = 0.7,
      maxBucket: Int = 0): org.apache.spark.sql.DataFrame = {
    val r = hashes / bands
    // r17: fan the raw text out before the shingle/minhash kernels
    // (SkewOps.fanOut — identity at warehouse scale, 32× kernel
    // parallelism over the local one-row-group scans).
    val withFps = QueryCaches.track(graft.ext.SkewOps.fanOut(df)
      .select(col(idCol).as("_id"),
        shingleFps(TextOps.tokens(col(textCol)), k).as("fps")))
    val exploded = withFps.select(col("_id"),
      posexplode(bandSigs(minhash(col("fps"), hashes), bands, r)).as(Seq("band", "sig")))
    // Capped path: ONE shuffle. Collect each (band, sig) bucket's
    // members, drop oversized buckets whole (the skew guard), generate
    // ordered pairs in place via two generators — equivalent to
    // [capBuckets count-join + bucket self-join] but without the three
    // extra exploded-relation shuffles (measured 2.7x end-to-end on a
    // 10M-doc corpus). Per-bucket work is bounded by maxBucket².
    // Uncapped path keeps the self-join: an unbounded collect_list
    // would materialize a boilerplate flood in one aggregation buffer,
    // while the join spills.
    val rawPairs =
      if (maxBucket > 0)
        exploded.groupBy(col("band"), col("sig"))
          .agg(collect_list(col("_id")).as("members"))
          .filter(size(col("members")).between(2, maxBucket))
          .select(explode(col("members")).as("id_a"), col("members"))
          .select(col("id_a"), explode(col("members")).as("id_b"))
          .filter(col("id_a") < col("id_b"))
      else
        exploded.as("a").join(exploded.as("b"),
            col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
              col("a._id") < col("b._id"))
          .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
    val pairs = rawPairs.distinct()
    pairs
      .join(withFps.select(col("_id").as("id_a"), col("fps").as("fps_a")), "id_a")
      .join(withFps.select(col("_id").as("id_b"), col("fps").as("fps_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("fps_a"), col("fps_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT set-similarity self-join via prefix filtering (the AllPairs/
    * PPJoin family; distributed shape per Vernica, Carey & Li, SIGMOD'10
    * "Efficient Parallel Set-Similarity Joins Using MapReduce").
    * Returns every pair with Jaccard(fps_a, fps_b) ≥ num/den — no false
    * negatives, unlike the MinHash/SimHash sketch paths: this is the
    * exact counterpart that pins their recall.
    *
    * Filter lemma: order every set's elements by a global total order
    * (here ascending document frequency, rarest first, fp as
    * tie-break) and keep each set's PREFIX of length
    * p = s − ⌈τ·s⌉ + 1. If two sets' prefixes are disjoint, every
    * common element lies in one set's suffix, so |A∩B| ≤ ⌈τ·|A|⌉ − 1
    * < τ·|A∪B| — the pair cannot reach the threshold. Hence joining
    * prefixes on element equality generates ALL qualifying pairs;
    * df-ascending ordering makes prefixes the rarest elements, so
    * candidate buckets are the SMALL df tails, not the stopword heads.
    *
    * Plan: df counts (one map-side-combined groupBy over exploded
    * elements), per-set ordered arrays (one groupBy-id with an in-row
    * sort_array — no window, no global rank), prefix explode, fp-keyed
    * equi-join (never all-pairs), then id-keyed verification joins
    * computing the exact intersection in-row (array_intersect). All
    * comparisons integer: J ≥ num/den ⟺ (num+den)·inter ≥ num·(sa+sb).
    * At 100 TB candidate volume is Σ_prefix-fp df² — bounded by how
    * rare prefixes are; hot elements (boilerplate shingles) can
    * additionally be capped with [[capBuckets]] on the exploded prefix
    * relation, trading exactness for the documented skew guard. */
  def prefixJoin(withFps: org.apache.spark.sql.DataFrame, idCol: String, fpsCol: String,
      num: Int, den: Int, maxDf: Int = 0): org.apache.spark.sql.DataFrame = {
    require(0 < num && num <= den, s"threshold $num/$den not in (0,1]")
    // r16 had this deliberately NOT persisted: the shingle kernel in
    // `withFps` executed twice before `ordered` materialized (once
    // under the df aggregate, once under the ordered-array build), and
    // a doc-grain persist MEASURED at sf0.1 (3 runs each) 0-to-negative
    // — 17/19/19 s wall unpersisted vs 20/19/21 s persisted — because
    // the r16 shape was exchange-bound, not kernel-bound.
    // Persisted (r17 re-measure, reversing the r16 rejection —
    // the world changed): (a) fanOut now exists, so the kernel the
    // persist deduplicates runs 32-way, and (b) the r16 shape had a
    // worse defect the persist ALSO fixes: `InferFiltersFromGenerate`
    // synthesizes `size(_fps) > 0 AND isnotnull(_fps)` below the
    // explode (an explicit filter here is redundant — removing one was
    // plan-identical), and predicate pushdown substitutes the WHOLE
    // fingerprint expression through the fanOut exchange into the
    // SCAN-stage Filter: the shingle kernel re-evaluated per row on the
    // 1-2-task pre-exchange side, defeating the fan-out. The
    // InMemoryRelation is a pushdown barrier, so with the persist the
    // kernel runs exactly ONCE, post-exchange, 32-way (plan diff:
    // plans/r17/dedup_prefix_join_{before2,after2}.txt; interleaved
    // A/B numbers in OPTIMIZATION_r17.md).
    // Footprint note (r17 advice): `base` and `ordered` are two
    // overlapping doc-grain persists held concurrently; base is only
    // consumed while dfreq/ordered build. Accepted: QueryCaches
    // releases both at end-of-query, the default storage level spills
    // to disk under pressure, and an eager early unpersist would need
    // an extra materialization barrier costing more than the overlap.
    val base = QueryCaches.track(
      withFps.select(col(idCol).as("_id"), array_distinct(col(fpsCol)).as("_fps")))
    val toks = base.select(col("_id"), explode(col("_fps")).as("fp"))
    val dfreq = toks.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    // (df, fp)-sorted element array + size, computed once for the
    // prefix generation AND both verification probes.
    val ordered = QueryCaches.track(toks.join(dfreq, "fp")
      .groupBy(col("_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("fp")))).as("arr"))
      .select(col("_id"), col("arr"), transform(col("arr"), e => e("fp")).as("fps"),
        size(col("arr")).cast("bigint").as("s")))
    // p = s − ⌈(num/den)·s⌉ + 1, all-integer: ⌈n·s/d⌉ = (n·s + d − 1) div d.
    // maxDf > 0 engages the hot-element skew guard: prefix elements
    // with global df above the cap are dropped BEFORE the candidate
    // join (a boilerplate shingle shared by a million docs would
    // otherwise bucket df² candidate pairs). Pairs whose prefixes
    // overlap only on capped-out elements are LOST — the same declared
    // recall trade as capBuckets on the LSH paths; uncapped (default)
    // keeps the recall-100% lemma intact.
    val prefixAll = ordered.select(col("_id"),
      explode(expr(s"slice(arr, 1, int(s - (($num*s + ${den - 1}) div $den) + 1))")).as("e"))
      .select(col("_id"), col("e.fp").as("fp"), col("e.df").as("df"))
    val prefix = (if (maxDf > 0) prefixAll.filter(col("df") <= maxDf) else prefixAll)
      .drop("df")
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.fp") === col("b.fp") && col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b")).distinct()
    cand
      .join(ordered.select(col("_id").as("id_a"), col("fps").as("fps_a"), col("s").as("sa")), "id_a")
      .join(ordered.select(col("_id").as("id_b"), col("fps").as("fps_b"), col("s").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("fps_a"), col("fps_b"))).cast("bigint").as("inter"),
        (col("sa") + col("sb")).as("szsum"))
      .filter(col("inter") * (num + den) >= col("szsum") * num)
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("szsum") - col("inter")).as("uni"))
  }

  /** Duplicate clusters from candidate pairs: connected components via
    * min-label propagation, so each member maps to the smallest id in
    * its component (`cluster_rep` — the keep-first representative;
    * dedup = keep rows where id = cluster_rep). Input: (id_a, id_b)
    * pairs (e.g. from [[nearDupPairs]]).
    *
    * Iterative: each round propagates the minimum label across edges
    * (one join + one aggregation) AND pointer-jumps — every node also
    * takes its current label's label (one labels self-join), the
    * path-halving step, so convergence is O(log diameter) rounds, not
    * O(diameter): a 10⁶-node density ridge (events_dbscan's core graph
    * is exactly that shape at scale) converges in ~20 rounds where
    * plain propagation needs the full diameter. LSH dup components are
    * near-cliques that still converge at initialization, so the common
    * case pays nothing extra but the self-join. `maxIter` is a safety
    * ceiling only — the label-sum fixpoint exits the loop the first
    * round nothing changes. Rounds run on [[QueryCaches.iterate]],
    * which states the checkpoint/release contract. The per-round
    * driver sync is one aggregate — the loop is driver-coordinated but
    * all data stays distributed. */
  def dupClusters(pairs: org.apache.spark.sql.DataFrame, maxIter: Int = 64): org.apache.spark.sql.DataFrame = {
    // Symmetrize in ONE pass over `pairs` (explode of a 2-struct array)
    // — a self-union would execute the whole upstream candidate
    // pipeline twice before the persist materializes.
    val edges = QueryCaches.track(pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    val seed = QueryCaches.checkpoint(edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nbr"))
      .select(col("id"), least(col("id"), col("nbr")).as("label")))
    // Convergence via the label-sum fixpoint: labels only ever decrease
    // (least), so an unchanged sum ⇔ no label changed — one cheap
    // aggregate per round instead of a join-diff. Seeding prevSum with
    // the INITIAL labels' sum (a ~free aggregate over the checkpointed
    // rows) makes round 1 double as the confirmation round: LSH dup
    // components are near-cliques that converge at initialization, so
    // this saves a full propagation round in the common case.
    // coalesce: SUM over zero rows is NULL — an empty pair set must
    // yield an empty result, not an NPE at the fixpoint seed.
    def labelSum(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    // AQE stays ON through the loop — measured (round 14, events_dbscan
    // sf0.1): disabling it for the label-sized rounds RAISED per-round
    // cost 0.5 s → 1.0 s. The intuition "AQE's replan barrier is pure
    // latency on tiny data" is backwards here: its partition coalescing
    // is what keeps each round's three shuffles from scheduling 32
    // near-empty tasks apiece.
    def round(labels: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val viaNbr = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("label", "nbr_label"), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nbr_label")).as("min_nbr"))
      // pointer jump: my label is a node id in my component, so its
      // label is at least as small — taking it halves min-carrying
      // path lengths each round (log-diameter convergence). A SECOND
      // hop (label(label(label))) was measured in round 14 on
      // events_dbscan (sf0.1): it did NOT reduce the round count (the
      // binding constraint is the one-edge-per-round min_nbr
      // propagation interleaved with the jump, not pointer depth) and
      // its extra self-join cost ~1.5% — rejected, like the dbscan
      // half-space probe before it.
      // SIXTH rejected fixpoint variant (r18, sf0.1, interleaved
      // Profile A/B): folding the three label sources into ONE
      // reference relation (edges ∪ id→label pointer rows ∪ id→id
      // self rows) joined once against labels and min-folded — fewer
      // joins and jobs per round on paper (events_dbscan 131 → 90
      // jobs), but per-round wall DOUBLED (warm rounds 0.27–0.35 s →
      // 0.55–0.68 s; events_dbscan 6.87 → 8.74 s): the union of the
      // persisted edge relation with two label-derived legs defeats
      // the per-join broadcast/size reasoning the three tiny joins
      // get, and the single wider shuffle costs more than the three
      // it replaced. Reverted; the 3-join round below stays the
      // measured optimum.
      val viaPtr = labels
        .join(labels.select(col("id").as("p_id"), col("label").as("ptr_label")),
          col("label") === col("p_id"))
        .select(col("id"), col("ptr_label"))
      labels.join(viaNbr, "id").join(viaPtr, "id")
        .select(col("id"),
          least(col("label"), col("min_nbr"), col("ptr_label")).as("label"))
    }
    // Round 0 aggregates the UNMATERIALIZED plan first: when the sum
    // already equals the seed's, the seed checkpoint IS the fixpoint and
    // the loop runs ONE checkpoint total — the common case (LSH dup
    // components are near-cliques that converge at initialization)
    // pays no second checkpoint. The double plan evaluation (sum, then
    // checkpoint) is confined to this round.
    var prevSum = labelSum(seed)
    val round0 = round(seed)
    val s0 = if (maxIter < 1) prevSum else labelSum(round0)
    val labels = if (s0 == prevSum) seed else {
      prevSum = s0
      val first = QueryCaches.checkpoint(round0)
      QueryCaches.drop(seed)
      // Past round 0 we are in the multi-round regime (long chains):
      // checkpoint FIRST, then aggregate the cheap cached scan — one
      // plan evaluation per round instead of two (sum-then-checkpoint
      // re-derived the whole join twice; round-14 measurement: ~40%
      // off events_dbscan's fixpoint). The confirmation round pays
      // one extra checkpoint write, negligible next to a plan eval.
      // A SECOND edge propagation per round was measured here
      // (round 14, events_dbscan sf0.1): rounds 8 → 6 but the
      // un-checkpointed intermediate labels evaluate twice per round
      // and total fixpoint time went 5.5 s → 7.2 s — rejected, like
      // the two-hop pointer jump before it. One edge hop + one
      // pointer jump per checkpointed round is the measured optimum.
      QueryCaches.iterate(first, maxIter - 1)(round) { next =>
        val s = labelSum(next)
        val same = s == prevSum
        prevSum = s
        same
      }
    }
    QueryCaches.drop(edges)
    labels.select(col("id"), col("label").as("cluster_rep"))
  }

  /** Skew guard for the LSH self-join: drop buckets with more than
    * `max` members (boilerplate clusters that would square into the
    * join). `exploded` must have columns (band, sig); returns it
    * filtered. At 100 TB this is the difference between a bounded
    * bucket join and a runaway hot key. */
  def capBuckets(exploded: org.apache.spark.sql.DataFrame, max: Int): org.apache.spark.sql.DataFrame =
    capBuckets(exploded, max, Seq("band", "sig"))

  /** [[capBuckets]] over arbitrary bucket-key columns. */
  def capBuckets(exploded: org.apache.spark.sql.DataFrame, max: Int,
      keyCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val counts = exploded.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
    exploded.join(counts, keyCols).filter(col("bucket_n") <= max).drop("bucket_n")
  }

  /** SimHash banded pairing, the scale-safe generalization of the
    * fixed lo/hi-half pigeonhole: a `bits`-bit simhash over token
    * fingerprints is split into `bands` contiguous bands (band
    * `bands-1` absorbs the remainder bits); docs sharing ANY
    * (band, key) bucket are candidates (pigeonhole: hamming distance
    * < `bands` ⇒ at least one band matches exactly — choose
    * `bands` = maxHamming+1 for guaranteed recall at the filter bound);
    * candidates are verified at `bit_count(xor) <= maxHamming`.
    *
    * Plan shape (the [[nearDupPairs]] band-join shape): the signature
    * relation is computed ONCE ([[QueryCaches.track]]) and posexploded to
    * `bands` fixed-width (band, key) rows per doc — a single bucket
    * equi-join, never two half self-joins, never all-pairs. Candidate
    * volume is Σ_buckets n_b² — bounded at any corpus size by
    * `maxBucket` ([[capBuckets]] over (band, key)), the same hot-bucket
    * guard as MinHash-LSH; wider bands (larger `bits`/`bands`) shrink
    * organic buckets exponentially. Returns (id_a, id_b, hamming) with
    * id_a < id_b. */
  def simhashPairs(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      bits: Int = 30, bands: Int = 0, maxHamming: Int = 2,
      maxBucket: Int = 0): org.apache.spark.sql.DataFrame = {
    // bands = 0 (the default) resolves to maxHamming + 1 — the smallest
    // band count with the pigeonhole recall guarantee (round-4 advice:
    // a fixed default of 2 with maxHamming = 2 silently missed pairs
    // whose 2 differing bits straddle the bands). Passing bands <=
    // maxHamming explicitly is allowed (a declared query may spell the
    // reduced-recall contract in its oracle) but warns.
    val b0 = if (bands == 0) maxHamming + 1 else bands
    if (b0 <= maxHamming)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"simhashPairs: bands=$b0 <= maxHamming=$maxHamming drops the pigeonhole " +
          "recall guarantee (a pair within maxHamming can straddle every band); " +
          "use bands >= maxHamming + 1 for guaranteed recall")
    // bits ≤ 62 also keeps every band narrower than 64 bits, so the
    // (1L << w) - 1 band mask below can never wrap to 0 (which would
    // collapse all docs into one bucket — the all-pairs join this
    // function exists to prevent); the simhash kernel enforces the
    // same bound at expression-construction time.
    require(b0 >= 1 && bits >= b0 && bits <= 62,
      s"simhashPairs requires 1 <= bands <= bits <= 62, got bits=$bits bands=$b0")
    // r17: fan the RAW text out before the fingerprint kernel — the
    // single-row-group scan otherwise fuses tokenize+fps+simhash into
    // a 2-task stage (SkewOps.fanOut scaladoc; measured below).
    hammingPairs(graft.ext.SkewOps.fanOut(df).select(col(idCol).as("_id"),
        HashExprs.simhash(HashExprs.tokenFps(TextOps.tokens(col(textCol))), bits).as("sig")),
      "_id", "sig", bits, b0, maxHamming, maxBucket)
  }

  /** Banded hamming pairing over ANY precomputed ≤62-bit locality
    * hash column — the candidate-generation engine [[simhashPairs]]
    * rides, factored out so other hash families (the byte-level
    * perceptual hash [[MultimodalOps.byteSegGradHash]], future
    * audio fingerprints) pair without re-deriving the banding. Same
    * contract: hash split into `bands` contiguous bands (last absorbs
    * remainder bits), bucket equi-join on (band, key), exact
    * `bit_count(xor) <= maxHamming` verify, (id_a, id_b, hamming)
    * with id_a < id_b. `bands >= maxHamming + 1` gives the pigeonhole
    * recall guarantee; `maxBucket` engages the [[capBuckets]] hot-
    * bucket guard. The hash relation is computed once
    * ([[QueryCaches.track]]) and posexploded to `bands` fixed-width rows —
    * never all-pairs, never two half self-joins. */
  def hammingPairs(df: org.apache.spark.sql.DataFrame, idCol: String, hashCol: String,
      bits: Int, bands: Int, maxHamming: Int = 2,
      maxBucket: Int = 0): org.apache.spark.sql.DataFrame = {
    require(bands >= 1 && bits >= bands && bits <= 62,
      s"hammingPairs requires 1 <= bands <= bits <= 62, got bits=$bits bands=$bands")
    val sigs = QueryCaches.track(df.select(col(idCol).as("_id"), col(hashCol).as("sig")))
    val width = bits / bands
    val bandKeys = array((0 until bands).map { j =>
      val lo = j * width
      val w = if (j == bands - 1) bits - lo else width
      shiftrightunsigned(col("sig"), lo).bitwiseAND(lit((1L << w) - 1L))
    }: _*)
    val exploded = sigs.select(col("_id"), col("sig"),
      posexplode(bandKeys).as(Seq("band", "key")))
    val buckets =
      if (maxBucket > 0) capBuckets(exploded, maxBucket, Seq("band", "key")) else exploded
    buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        expr("bit_count(a.sig ^ b.sig)").cast("bigint").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
