package graft.queries

import graft.ext.{DedupOps, TextOps}
import graft.ext.DedupOps._
import graft.ext.TextOps.{fingerprint, tokens}
import graft.functions.HashExprs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import OracleFragments._
import Tables._

/** Deduplication suite over `documents` (LLM-pipeline pillar #1).
  * The driver's synthetic corpus has no duplicate texts, so each query
  * PLANTS deterministic duplicates (a doc_id+1,000,000 shifted copy —
  * exact, or with the first token dropped — near), then detects them.
  * That way a green oracle row proves the operator actually removes /
  * pairs something, not that it matched on an empty result.
  *
  * Scale notes are per-query; the common rule: candidate generation is
  * always bucket-local (hash group or LSH band join), NEVER all-pairs.
  */
object DedupQueries {

  private val SHIFT = 1000000L

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents").select(col("doc_id"), col("text"))

  /** The planted NEAR-duplicate mutation, defined once: drop the first
    * token. Oracle spelling (kept in lockstep everywhere this is
    * used): `substr(text, strpos(text, ' ') + 1)`. */
  private def firstTokenDropped: org.apache.spark.sql.Column =
    expr("substring(text, instr(text, ' ') + 1)")

  // The planted corpora and indexes several builders share, each
  // spelled once. Builders wrap them in `QueryCaches.track` where they
  // reuse them.

  /** The corpus with a planted EXACT copy of every doc at doc_id + SHIFT. */
  private def withExactCopies(d: DataFrame): DataFrame =
    d.unionAll(d.select((col("doc_id") + SHIFT).as("doc_id"), col("text")))

  /** The corpus with a planted NEAR copy of every doc: doc_id + SHIFT,
    * first token dropped. */
  private def withNearCopies(d: DataFrame): DataFrame =
    d.unionAll(d.select((col("doc_id") + SHIFT).as("doc_id"), firstTokenDropped.as("text")))

  /** The admission batch planting all three outcomes: exact copies
    * (+SHIFT, corpus dups), first-token-dropped texts (+2·SHIFT,
    * novel) and copies of every 5th doc (+3·SHIFT, dup of the corpus
    * AND of the batch's own +SHIFT row). */
  private def plantedBatch(d: DataFrame): DataFrame =
    d.select((col("doc_id") + SHIFT).as("doc_id"), col("text"))
      .unionAll(d.select((col("doc_id") + 2 * SHIFT).as("doc_id"),
        firstTokenDropped.as("text")))
      .unionAll(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 3 * SHIFT).as("doc_id"), col("text")))

  /** The admission screen of `batch` `(doc_id, fp)` against a
    * reopened fp-bucketed index `idx` `(fp, countCol)`: per batch doc
    * the index count, whether an earlier-id batch row owns the same
    * fp, and the verdict. Join FIRST (the batch co-partitions to the
    * index buckets), window AFTER (it reuses the join's fp
    * partitioning — no second exchange); `merge` pins SMJ so the
    * exchange-free index side is visible even at test scale where AQE
    * would broadcast. */
  private def screen(batch: DataFrame, idx: DataFrame, countCol: String): DataFrame = {
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    batch.hint("merge").join(idx, Seq("fp"), "left")
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("fp"),
        coalesce(col(countCol), lit(0L)).as(countCol),
        (col("rk") > 1).as("dup_in_batch"),
        (coalesce(col(countCol), lit(0L)) > 0 || col("rk") > 1).as("is_dup"))
  }

  /** Each doc's first 80 printable-ASCII chars `a` beside its planted
    * first-token-dropped mutant's `b` `(doc_id, a, b)`. The ASCII strip
    * makes the engines' edit distances agree: DuckDB's levenshtein
    * counts BYTE edits, Spark's CODEPOINT edits. */
  private def asciiSlicePairs(spark: SparkSession, sfDir: String): DataFrame = {
    def ascii(c: org.apache.spark.sql.Column) = regexp_replace(c, "[^ -~]", "")
    docs(spark, sfDir)
      .select(col("doc_id"),
        substring(ascii(col("text")), 1, 80).as("a"),
        substring(ascii(firstTokenDropped), 1, 80).as("b"))
  }

  /** Exact Jaccard `(doc_a, doc_b, jaccard)` of each consecutive doc
    * pair over the fingerprint sets `(doc_id, fps)`. */
  private def consecutiveJaccard(withFps: DataFrame): DataFrame = {
    val a = withFps.select(col("doc_id").as("doc_a"), col("fps").as("fps_a"))
    val b = withFps.select(col("doc_id").as("doc_b"), col("fps").as("fps_b"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .select(col("doc_a"), col("doc_b"),
        DedupOps.jaccard(col("fps_a"), col("fps_b")).as("jaccard"))
  }

  /** The corpus fingerprint index `(fp, n_corpus)`. */
  private def fpCounts(d: DataFrame): DataFrame =
    d.select(fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n_corpus"))

  /** [[fpCounts]] written once as the fp-bucketed catalog table the
    * index lifecycle rows reopen. */
  private def fpIndex(d: DataFrame, sfDir: String): DataFrame =
    graft.ext.LayoutOps.bucketedTable(fpCounts(d),
      s"graft_fp_index_${indexTag(sfDir)}", "fp", buckets = 8)

  /** 3-shingle fingerprints `(doc_id, fps)` over the fanned-out corpus:
    * fanOut BELOW the shingle kernel, so the kernel's one evaluation
    * (prefixJoin persists this relation) does not tokenize 2-task. */
  private def shingled(corpus: DataFrame): DataFrame =
    graft.ext.SkewOps.fanOut(corpus).select(col("doc_id"), shingleFps(tokens(col("text")), 3).as("fps"))

  /** Exact dedup: content-fingerprint hash groupBy over a corpus with
    * planted exact copies. One shuffle of (fp, doc_id) pairs with
    * map-side combine; the representative is min(doc_id) — the standard
    * keep-first rule, deterministic at any parallelism. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val corpus = withExactCopies(d)
    corpus.select(fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_copies"))
  }

  /** Incremental (new-batch-vs-corpus) exact dedup — the admission
    * check every production ingest runs: an arriving batch is screened
    * against the historical corpus AND against itself before landing.
    * Batch construction plants all three outcomes: +1e6 exact copies
    * (corpus dups), +2e6 first-token-dropped texts (novel), +3e6
    * copies of every 5th doc (dup of corpus AND of the batch's own
    * +1e6 row). Per new doc: corpus-match count, whether an
    * earlier-id batch row owns the same fingerprint, and the combined
    * admission verdict. Plan at 100 TB: the corpus side collapses to
    * its fingerprint index (fp, count — 16 B rows; in production a
    * maintained table, re-derived here so the oracle is
    * self-contained), the batch ranks within fp (dup groups are tiny
    * by construction), and the left join ships only the batch's fp
    * keys — the corpus text is never rescanned per batch row. */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val corpusFps = fpCounts(d)
    val batch = plantedBatch(d)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    batch.withColumn("rk", row_number().over(w))
      .join(corpusFps, Seq("fp"), "left")
      .select(col("doc_id"), col("fp"),
        coalesce(col("n_corpus"), lit(0L)).as("n_corpus"),
        (col("rk") > 1).as("dup_in_batch"),
        (coalesce(col("n_corpus"), lit(0L)) > 0 || col("rk") > 1).as("is_dup"))
  }

  /** Fuzzy (near-dup) decontamination — the eval-leak scan for
    * benchmarks that appear PARAPHRASED or truncated rather than
    * verbatim: where [[graft.queries.TextQueries.curateDecontaminate]]
    * probes exact 5-gram fingerprints, this runs cross-TABLE MinHash
    * banding (corpus bands ⋈ benchmark bands) and an exact-Jaccard
    * verify, so a near copy that shares no exact long n-gram still
    * flags. The planted benchmark is every 97th doc with its first
    * token dropped — by construction a NEAR (not exact) copy of its
    * source. Output per contaminated corpus doc: leaked-benchmark
    * count and worst overlap. Plan at 100 TB: the benchmark side is
    * tiny (its 16 (band, sig) rows per item broadcast); the corpus
    * computes fixed-width band rows in one scan — candidates meet in
    * the broadcast hash join, never all-pairs — and only candidate
    * docs ship their fps arrays into the verify. */
  /** Persisted EXACT-dedup index lifecycle — the fingerprint twin of
    * [[graft.queries.SimQueries]]' sim_index_persist: the corpus
    * fingerprint index (fp → occurrence count) is WRITTEN ONCE as a
    * catalog table bucketed by fp ([[graft.ext.LayoutOps
    * .bucketedTable]]) and the admission screen of a fresh batch runs
    * against the REOPENED table: the batch shuffles ONCE to the
    * index's bucket partitioning, the index side joins with ZERO
    * exchanges (the bucketed scan already reports
    * HashPartitioning(fp)), and the within-batch dedup window reuses
    * the join's fp partitioning — one exchange in the whole plan
    * (PlanSpec-pinned). Output and oracle are IDENTICAL to
    * [[dedupIncremental]] (the from-scratch spelling): the green hash
    * is the admission-from-index == admission-from-scratch proof.
    * This is the shape a 100 TB ingest gate runs every batch — the
    * corpus-sized index scan is paid at layout time, each batch pays
    * only its own shuffle. */
  def dedupIndexPersist(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val idx = fpIndex(d, sfDir)
    val batch = plantedBatch(d)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    screen(batch, idx, "n_corpus")
  }

  /** Fingerprint-index COMPACTION — the fold that completes
    * [[dedupIndexPersist]]'s lifecycle (the exact-dedup twin of
    * sim_index_compact): the admitted batch's fingerprint counts are
    * folded into the reopened generation-1 index with ONE fp-keyed
    * outer join (the bucketed gen-1 side joins with zero exchanges;
    * the batch counts shuffle once) and REWRITTEN as a generation-2
    * bucketed table — no rescan of the corpus text, the 100 TB
    * maintenance contract. A SECOND batch then screens against ONLY
    * the reopened generation-2 table. The batch-2 mix makes the fold
    * observable: copies of corpus docs (dup under either generation),
    * first-token-dropped variants (their fps entered the index ONLY
    * via batch 1 — flagged dup here, not-dup against generation 1),
    * and suffixed fresh text (not dup anywhere). The oracle recomputes
    * the merged counts from scratch over corpus ∪ batch-1 texts, so
    * the green hash is the fold == rebuild proof. */
  def dedupIndexCompact(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ext.LayoutOps
    val tag = indexTag(sfDir)
    val d = docs(spark, sfDir)
    val idx = fpIndex(d, sfDir)
    val batch1Counts = plantedBatch(d)
      .select(fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n_batch"))
    val idx2 = LayoutOps.bucketedTable(
      idx.join(batch1Counts, Seq("fp"), "full_outer")
        .select(col("fp"),
          (coalesce(col("n_corpus"), lit(0L)) +
            coalesce(col("n_batch"), lit(0L))).as("n_index")),
      s"graft_fp_index_g2_$tag", "fp", buckets = 8)
    val batch2 = d.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 4 * SHIFT).as("doc_id"), col("text"))
      .unionAll(d.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 5 * SHIFT).as("doc_id"),
          firstTokenDropped.as("text")))
      .unionAll(d.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 6 * SHIFT).as("doc_id"),
          concat(col("text"), lit(" qz")).as("text")))
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    screen(batch2, idx2, "n_index")
  }

  /** Fingerprint-index DELETES — the fourth act of the exact-dedup
    * index lifecycle (the [[graft.queries.SimQueries]] sim_index_delete
    * twin): retiring documents from the corpus must DECREMENT their
    * fingerprint counts, or the index keeps flagging fresh copies of
    * content that no longer exists. The delete manifest (every 9th ≡ 2
    * doc) folds into the reopened generation-1 index with one fp-keyed
    * left join — counts decrement, fps whose count reaches 0 DROP OUT
    * of the rewritten generation-3 table (a tombstoned fingerprint
    * must not linger as a 0-count row that a `> 0` screen would
    * ignore but a `IS NOT NULL` screen would trip on). A batch of
    * copies of EVERY corpus doc then screens against only the
    * reopened generation-3 table: copies of deleted docs read
    * n_index = 0 (their content left the corpus — admissible again,
    * the takedown-then-resubmit case), copies of survivors still
    * flag. The oracle recomputes counts from scratch over
    * corpus∖deleted — the green hash is the decrement == rebuild
    * proof. Same 100 TB contract as compaction: no corpus rescan, one
    * bucketed-side zero-exchange join + one bucketed write. */
  def dedupIndexDelete(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ext.LayoutOps
    val tag = indexTag(sfDir)
    val d = docs(spark, sfDir)
    val idx = fpIndex(d, sfDir)
    val delCounts = d.filter(pmod(col("doc_id"), lit(9L)) === 2)
      .select(fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n_del"))
    val idx3 = LayoutOps.bucketedTable(
      idx.join(delCounts, Seq("fp"), "left")
        .select(col("fp"),
          (col("n_corpus") - coalesce(col("n_del"), lit(0L))).as("n_index"))
        .filter(col("n_index") > 0L),
      s"graft_fp_index_g3_$tag", "fp", buckets = 8)
    val batch = d.select((col("doc_id") + SHIFT).as("doc_id"),
      fingerprint(col("text")).as("fp"))
    screen(batch, idx3, "n_index")
  }

  def curateDecontaminateNear(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    def sigs(df: DataFrame) = df.select(col("doc_id"),
        shingleFps(tokens(col("text")), 3).as("fps"))
      .select(col("doc_id"), col("fps"), minhash(col("fps"), 64).as("mh"))
    val corpus = graft.core.QueryCaches.track(sigs(d))
    val bench = graft.core.QueryCaches.track(sigs(d.filter(col("doc_id") % 97 === 0)
      .select((col("doc_id") + SHIFT).as("doc_id"),
        firstTokenDropped.as("text"))))
    def bandsOf(df: DataFrame, id: String) = df.select(col("doc_id").as(id),
      posexplode(bandSigs(col("mh"), 16, 4)).as(Seq("band", "sig")))
    val cand = bandsOf(corpus, "doc_id")
      .join(broadcast(bandsOf(bench, "bench_id")), Seq("band", "sig"))
      .select(col("doc_id"), col("bench_id")).distinct()
    cand.join(corpus.select(col("doc_id"), col("fps").as("fps_a")), "doc_id")
      .join(bench.select(col("doc_id").as("bench_id"), col("fps").as("fps_b")), "bench_id")
      .select(col("doc_id"), DedupOps.jaccard(col("fps_a"), col("fps_b")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_near"), max(col("jaccard")).as("max_jaccard"))
  }

  /** Edit distance as the character-level verify primitive — the
    * fuzzy matcher for SHORT fields (titles, names, ids) where
    * set-based Jaccard is too coarse: each doc against its
    * first-token-dropped mutant, Levenshtein over the 80-char
    * prefixes. The length bound is the scale contract: Levenshtein is
    * O(n·m) PER ROW, so at 100 TB it never touches full documents —
    * like the exact-Jaccard step it is a verify that runs AFTER
    * candidate generation (LSH bands), on bounded slices. Inputs are
    * normalized to printable ASCII first: DuckDB's levenshtein counts
    * BYTE edits while Spark's counts CODEPOINT edits (a non-ASCII
    * substitution scores 2 vs 1), so the engines agree only on ASCII
    * — the strip makes that precondition true by construction instead
    * of an accident of the current corpus. */
  def dedupEditDistance(spark: SparkSession, sfDir: String): DataFrame = {
    asciiSlicePairs(spark, sfDir)
      .select(col("doc_id"),
        levenshtein(col("a"), col("b")).cast("bigint").as("edit_dist"),
        length(col("a")).cast("bigint").as("len_a"),
        length(col("b")).cast("bigint").as("len_b"))
  }

  /** The BANDED edit-distance bound under the oracle gate: the same
    * ASCII slices as [[dedupEditDistance]], but the predicate is the
    * native early-exit kernel ([[graft.functions.Kernels.EditWithin]],
    * O((2k+1)·n) per row) while the ORACLE computes the full O(n·m)
    * levenshtein and compares <= k — so the green row proves the band
    * optimization is exact, not just fast. k = 12 keeps both planted
    * mutants (first token + space, typically <= 11 chars) and genuine
    * rejections in the output. */
  def dedupEditWithin(spark: SparkSession, sfDir: String): DataFrame = {
    asciiSlicePairs(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.HashExprs.editWithin(col("a"), col("b"), 12).as("within_12"))
  }

  /** Near-dup detection, the full MinHash → banded-LSH → verify plan:
    * 3-token shingles → 64 minhashes → 16 bands × 4 rows → self-join on
    * (band, sig) buckets → exact Jaccard ≥ 0.7 on candidates only.
    * Planted near-dups (first token dropped) share ~(m−1)/m of their
    * shingle set, so the LSH S-curve surfaces them with probability
    * ≈ 1. Shuffle volume: 16 fixed-width (band, sig, id) rows per doc —
    * at 100 TB this joins within buckets, never across the corpus. */
  def dedupNear(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = withNearCopies(docs(spark, sfDir))
    DedupOps.nearDupPairs(corpus, "doc_id", "text",
        k = 3, hashes = 64, bands = 16, threshold = 0.7)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))
  }

  /** LSH band-parameter sweep — "measure, don't guess" for the ONE
    * knob every MinHash deployment has to pick: with 64 hashes, the
    * (bands × rows) split sets the S-curve's threshold (t ≈ (1/b)^(1/r)
    * — 32×2 fires near 0.18, 16×4 near 0.5, 8×8 near 0.77). Each
    * config's candidate pairs are generated by its OWN banded
    * equi-join over the SAME persisted signature relation (one corpus
    * scan, one signature build — the sweep costs three bucket
    * shuffles, not three pipelines), then verified with exact Jaccard
    * (≥ 0.5, the mid curve's design point). Reported per config:
    * candidates, confirmed, precision in milli units, and recall
    * against the most permissive config's confirmed set (32 bands
    * admits a superset of true pairs at this threshold — the
    * calibration reference). At 100 TB this is exactly how the knob
    * should be chosen: run the sweep on a sampled shard, read the
    * (precision, recall, candidate-volume) row, ship the config. */
  def dedupBandSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = withNearCopies(docs(spark, sfDir))
    // r17: SkewOps.fanOut below the kernel was measured HERE and
    // rejected (interleaved old/new A/B, sf0.1, min-of-4: 2.64 →
    // 3.08 s): this query's mass is not the one-time signature kernel
    // but the THREE downstream banded self-joins + verify joins over
    // the persisted relation, whose per-stage task count the fan-out
    // multiplies 16×. The kernel-dominated family members (prefix
    // join −0.8 s, simhash pairs −0.55 s) keep it.
    val withSig = graft.core.QueryCaches.track(
      corpus.select(col("doc_id"), shingleFps(tokens(col("text")), 3).as("fps"))
        .select(col("doc_id"), col("fps"), minhash(col("fps"), 64).as("mh")))
    // r17 continuation: the three operating points used to run three
    // SEPARATE banded self-joins + distincts + verify-join pairs over
    // the persisted signatures. Tagging each exploded bucket row with
    // its config and unioning BEFORE the join folds those into ONE
    // (bands, band, sig)-keyed self-join, ONE distinct and ONE
    // verify-join pair — same candidate rows per config (the bands
    // column is in the join key, so configs can never cross-match),
    // same bytes through one exchange instead of three. Value-identical
    // by construction; oracle hash re-verified at both SFs.
    def exploded(bands: Int): DataFrame = {
      val r = 64 / bands
      withSig.select(lit(bands.toLong).as("bands"), col("doc_id"),
        posexplode(DedupOps.bandSigs(col("mh"), bands, r)).as(Seq("band", "sig")))
    }
    val ex = exploded(32).unionByName(exploded(16)).unionByName(exploded(8))
    val all = graft.core.QueryCaches.track(
      ex.as("a").join(ex.as("b"),
          col("a.bands") === col("b.bands") && col("a.band") === col("b.band") &&
            col("a.sig") === col("b.sig") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.bands").as("bands"),
          col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .join(withSig.select(col("doc_id").as("doc_a"), col("fps").as("fps_a")), "doc_a")
        .join(withSig.select(col("doc_id").as("doc_b"), col("fps").as("fps_b")), "doc_b")
        .select(col("bands"), col("doc_a"), col("doc_b"),
          (DedupOps.jaccard(col("fps_a"), col("fps_b")) >= 0.5).as("ok")))
    val ref = all.filter(col("bands") === 32L && col("ok"))
      .select(col("doc_a"), col("doc_b"))
    val refN = ref.agg(count(lit(1)).as("n_ref"))
    val hits = all.filter(col("ok"))
      .join(ref, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy(col("bands")).agg(count(lit(1)).as("n_ref_hit"))
    all.groupBy(col("bands"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_confirmed"))
      .join(hits, Seq("bands"))
      .crossJoin(refN)
      .select(col("bands"), expr("64 div bands").as("rows_per_band"),
        col("n_candidates"), col("n_confirmed"),
        expr("CAST((1000 * n_confirmed) div n_candidates AS BIGINT)").as("precision_milli"),
        // guard: a corpus with no confirmable pairs must yield NULL
        // recall, not an ANSI divide-by-zero
        expr("CASE WHEN n_ref = 0 THEN NULL ELSE " +
          "CAST((1000 * n_ref_hit) div n_ref AS BIGINT) END").as("recall_vs_widest_milli"))
  }

  /** SimHash signatures (30-bit, token-level): near-identical docs land
    * within a small hamming ball. Emitting the signature per doc — the
    * downstream dedup is a band-split on signature halves (same bucket
    * shape as LSH). Pure arithmetic bit extraction, engine-portable. */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), HashExprs.tokenFps(tokens(col("text"))).as("fps"))
      .select(col("doc_id"), HashExprs.simhash(col("fps"), 30).as("simhash"))

  /** n-gram Jaccard as a pairwise operator: 3-gram similarity of each
    * consecutive doc pair — a deterministic non-empty pair set that
    * exercises the set-similarity kernel on unrelated docs (values near
    * 0) without an all-pairs join. */
  def dedupJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val withFps = docs(spark, sfDir)
      .select(col("doc_id"), shingleFps(tokens(col("text")), 3).as("fps"))
    consecutiveJaccard(withFps)
  }

  /** MinHash calibration: the Broder estimator beside the exact value.
    * For consecutive doc pairs, the fraction of agreeing minhash rows
    * (of 64) estimates Jaccard similarity — THE property the whole LSH
    * pipeline rests on, made visible: est_jaccard ≈ jaccard within
    * sketch variance (σ ≈ √(J(1−J)/64)). At 100 TB the estimator is
    * what lets banding prune candidates without touching shingle sets;
    * the agreement fold is per-row arithmetic over two 64-element
    * signature attributes (no re-shuffle, no set algebra). */
  def dedupMinhashEst(spark: SparkSession, sfDir: String): DataFrame = {
    val withSig = docs(spark, sfDir)
      .select(col("doc_id"), shingleFps(tokens(col("text")), 3).as("fps"))
      .select(col("doc_id"), col("fps"), minhash(col("fps"), 64).as("mh"))
    val a = withSig.select(col("doc_id").as("doc_a"), col("fps").as("fps_a"), col("mh").as("mh_a"))
    val b = withSig.select(col("doc_id").as("doc_b"), col("fps").as("fps_b"), col("mh").as("mh_b"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .select(col("doc_a"), col("doc_b"),
        (aggregate(zip_with(col("mh_a"), col("mh_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).cast("double") / 64.0).as("est_jaccard"),
        DedupOps.jaccard(col("fps_a"), col("fps_b")).as("jaccard"))
  }

  /** End-to-end dedup decision: LSH candidate pairs → connected
    * components → keep-first representative per member. The oracle
    * recomputes the same pairs in SQL and closes them with a recursive
    * CTE — so the distributed min-label propagation is verified against
    * an exact transitive closure. */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val pairs = DedupOps.nearDupPairs(withNearCopies(d), "doc_id", "text",
      k = 3, hashes = 64, bands = 16, threshold = 0.7)
    DedupOps.dupClusters(pairs)
  }

  /** Near-dup cluster-SIZE distribution — the readout a curation plan
    * reads before deduplicating: how much mass sits in big clusters
    * (template spam, mirrors — cheap wins) vs pairs (organic near-dups
    * — judgment calls)? Composes [[dedupClusters]]' label fixpoint
    * with a singleton-restoring left join (a doc in no pair IS its own
    * size-1 cluster — the fixpoint only sees edge-connected nodes),
    * then rolls up rep → size → (n_clusters, n_docs, per-mille of the
    * corpus). Scale: everything after the pair stage is cluster-grain;
    * the histogram is at most |distinct sizes| rows. */
  def dedupClusterHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val corpus = graft.core.QueryCaches.track(withNearCopies(d))
    val pairs = DedupOps.nearDupPairs(corpus, "doc_id", "text",
      k = 3, hashes = 64, bands = 16, threshold = 0.7)
    val reps = DedupOps.dupClusters(pairs)
      .select(col("id"), col("cluster_rep"))
    val all = corpus.select(col("doc_id").as("id"))
      .join(reps, Seq("id"), "left")
      .select(coalesce(col("cluster_rep"), col("id")).as("rep"))
    val sizes = all.groupBy(col("rep")).agg(count(lit(1)).as("sz"))
    val tot = corpus.agg(count(lit(1)).as("n_tot"))
    sizes.groupBy(col("sz"))
      .agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(tot))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_docs"),
        expr("(1000 * sz * n_clusters) div n_tot").as("mass_milli"))
  }

  /** Character 5-gram Jaccard over consecutive doc pairs — the
    * short-text variant of [[dedupJaccard]] (word shingles miss edits
    * inside words; char n-grams catch them). */
  def dedupCharJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val withFps = docs(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.HashExprs.charShingleFps(col("text"), 5).as("fps"))
    consecutiveJaccard(withFps)
  }

  /** SimHash banded pairing: corpus ∪ planted exact copies through
    * [[DedupOps.simhashPairs]] — 30-bit signature split into 2 15-bit
    * bands (pigeonhole: hamming ≤ 1 ⇒ some band matches; the oracle
    * keeps pairs to hamming ≤ 2, same recall contract both sides),
    * ONE posexploded (band, key) bucket equi-join over a
    * computed-once persisted signature table. At larger corpora widen
    * `bits`/`bands` and engage `maxBucket` — candidate volume is then
    * bucket-bounded instead of N²/2^width. */
  def dedupSimhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val corpus = withExactCopies(d)
    DedupOps.simhashPairs(corpus, "doc_id", "text",
        bits = 30, bands = 2, maxHamming = 2)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
  }

  /** [[dedupSimhashPairs]] with the hot-bucket skew guard ENGAGED
    * (maxBucket = 4) and the pigeonhole-valid band count
    * (bands = maxHamming + 1 = 3, the recall contract simhashPairs
    * defaults to): any (band, key) bucket holding more than 4 docs —
    * the template cliques this corpus is full of — is dropped before
    * the bucket self-join. Closes the skew-guard set: all three sketch
    * families (MinHash `dedup_near_capped`, SRP `sim_pairs_capped`,
    * SimHash here) now have an oracle-verified cap. The oracle spells
    * the 3 10-bit band keys arithmetically and the cap as a
    * HAVING-bounded (band, key) CTE. */
  def dedupSimhashPairsCapped(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val corpus = withExactCopies(d)
    DedupOps.simhashPairs(corpus, "doc_id", "text",
        bits = 30, bands = 3, maxHamming = 2, maxBucket = 4)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
  }

  /** [[dedupNear]] with the hot-bucket skew guard ENGAGED
    * (maxBucket = 4): any (band, sig) bucket holding more than 4 docs —
    * boilerplate/template clusters that would square into the
    * self-join — is dropped before candidate generation. The oracle
    * spells the cap as a HAVING-bounded bucket CTE, so the green row
    * proves the 100 TB guard changes results exactly as specified. */
  def dedupNearCapped(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    DedupOps.nearDupPairs(withNearCopies(d), "doc_id", "text",
        k = 3, hashes = 64, bands = 16, threshold = 0.7, maxBucket = 4)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))
  }

  /** Canonical-document selection — the decision step AFTER clustering
    * that every dedup pipeline actually ships: within each near-dup
    * cluster keep the highest-QUALITY member (not blindly the lowest
    * id), tie-broken by min doc_id. Composes three oracle-gated
    * kernels under one hash check: LSH pairing → connected components
    * → the text-quality score (over length(text), since mutants differ
    * from the stored n_chars). Plan: the cluster map (id, cluster_rep)
    * joins the scored corpus on id — both sides hash-partitioned on
    * the id — then ONE hash aggregate per cluster picks the argmax
    * (max_by with a (quality, −id) struct tie-break: partial maxima
    * combine map-side, so the exchange moves one row per cluster — a
    * window rank here would SORT the full membership table; same
    * trade as [[SimQueries.simIvf]]'s assignment). The corpus
    * projection (doc_id, text) is persisted query-scoped: the LSH
    * pairing branch and the quality-scoring branch both read it, and
    * without the cache each would re-run the scan + mutant regex work
    * (measured ~0.4 s of the query at sf0.1). */
  def dedupCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    // r17: cache the corpus pre-fanned (SkewOps.fanOut) — both cache
    // consumers (the near-dup kernel pass and the quality-score regexp
    // pass) otherwise run 2-task over the union of two one-row-group
    // scans.
    val corpus = graft.core.QueryCaches.track(
      graft.ext.SkewOps.fanOut(withNearCopies(d)))
    val clusters = DedupOps.dupClusters(
      DedupOps.nearDupPairs(corpus, "doc_id", "text",
        k = 3, hashes = 64, bands = 16, threshold = 0.7))
    val toks = tokens(col("text"))
    val nch = length(col("text")).cast("bigint")
    val punct = expr("regexp_count(text, '[.,!?;:]')").cast("bigint")
    val digits = expr("regexp_count(text, '[0-9]')").cast("bigint")
    val stop = TextOps.wordRatio(toks, Seq("the", "a", "data", "table"))
    val scored = corpus.select(col("doc_id"),
      greatest(lit(0.0), least(lit(1.0),
        lit(0.5) + stop - (punct / nch) * 2 - (digits / nch))).as("quality"))
    clusters.join(scored, col("id") === col("doc_id"))
      .select(col("cluster_rep"), col("id"), col("quality"))
      .groupBy(col("cluster_rep"))
      .agg(
        max_by(col("id"), struct(col("quality"), (-col("id")).as("ni"))).as("kept_id"),
        max(col("quality")).as("best_quality"),
        count(lit(1)).as("n_members"))
  }

  /** Exact-substring duplication report — the long-verbatim-span
    * signal (the "exact substring dedup" of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better":
    * training data repeats 50+-token spans verbatim far more often
    * than whole documents repeat): per document, the LONGEST run of
    * consecutive 10-token windows shared verbatim with at least one
    * OTHER document, plus shared-window totals. A suffix array is the
    * single-machine tool; the distributed equivalent is rolling-window
    * fingerprints + gaps-and-islands: one scan posexplodes (doc, pos,
    * window-fp) — fixed-width rows, persisted query-scoped because the
    * df aggregate and the join probe both read it; cross-document df
    * counts DISTINCT docs per fp (a span repeated within one doc is
    * repetition, not duplication — [[graft.queries.TextQueries
    * .textRepetition]] measures that); consecutive shared positions
    * collapse to islands with the pos − row_number() trick under a
    * PER-DOCUMENT window (bounded partitions at any corpus size —
    * never a global sort). span_tokens = longest_run + k − 1 converts
    * window count back to tokens. The planted mutants (first token
    * dropped) share their entire suffix with the original, so the
    * expected longest run is the full window count — while organic
    * 10-token collisions are ~0, making the report's selectivity
    * visible under the oracle hash. */
  def dedupSubstring(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = withNearCopies(docs(spark, sfDir))
    val wins = graft.core.QueryCaches.track(
      graft.ext.SkewOps.fanOut(corpus).select(col("doc_id"),
          posexplode(shingleFps(tokens(col("text")), 10)).as(Seq("pos", "fp")))
        .select(col("doc_id"), col("pos").cast("bigint").as("pos"), col("fp")))
    val dfreq = wins.groupBy(col("fp")).agg(countDistinct(col("doc_id")).as("df"))
    val shared = wins.join(dfreq, "fp").filter(col("df") >= 2)
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = shared
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_islands"), max(col("run")).as("longest_run"),
        sum(col("run")).as("n_shared"))
    wins.groupBy(col("doc_id")).agg(count(lit(1)).as("n_windows"))
      .join(islands, "doc_id")
      .select(col("doc_id"), col("n_windows"), col("n_shared"), col("n_islands"),
        col("longest_run"), (col("longest_run") + 9).as("span_tokens"))
  }

  /** Asymmetric containment beside Jaccard — the subset-duplicate
    * detector: a snippet quoted inside a larger document scores LOW on
    * Jaccard (the union is big) but 1.0 on containment-in-source, which
    * is why curation pipelines (quote expansion, chrome-wrapped
    * articles) threshold containment, not Jaccard. Each doc is paired
    * with a planted prefix snippet (its first ⌈n/2⌉ tokens, id+1e6):
    * prefix shingles are a true subset of the source's, so
    * `containment_snip` is EXACTLY 1.0 while `jaccard` sits near the
    * length ratio — every value integer-ratio exact. Per-row column
    * work on an id-equi pair join; at scale the pair set comes from
    * LSH candidates exactly like [[dedupNear]]. */
  def dedupContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val full = d.select(col("doc_id"), shingleFps(tokens(col("text")), 3).as("fps"))
    val snip = d.select(col("doc_id"), tokens(col("text")).as("tk"))
      .select((col("doc_id") + SHIFT).as("doc_id"),
        shingleFps(expr("slice(tk, 1, CAST((size(tk) + 1) div 2 AS INT))"), 3).as("fps"))
    val a = full.select(col("doc_id").as("doc_a"), col("fps").as("fps_a"))
    val b = snip.select(col("doc_id").as("doc_b"), col("fps").as("fps_b"))
    val inter = size(array_intersect(col("fps_a"), col("fps_b"))).cast("bigint")
    a.join(b, col("doc_b") === col("doc_a") + SHIFT)
      .filter(size(col("fps_a")) > 0 && size(col("fps_b")) > 0)
      .select(col("doc_a"), col("doc_b"),
        DedupOps.jaccard(col("fps_a"), col("fps_b")).as("jaccard"),
        (inter / size(array_distinct(col("fps_b"))).cast("bigint")).as("containment_snip"),
        (inter / size(array_distinct(col("fps_a"))).cast("bigint")).as("containment_full"))
  }

  /** Per-source MinHash UNION sketch via the typed Aggregator
    * ([[graft.functions.SketchAggs.MinHashUnion]] — the §2.3 custom-
    * UDAF surface): each document's 64-hash signature folds
    * element-wise-min per source, yielding the signature of the UNION
    * of that source's shingle sets — the mergeable corpus-overlap
    * sketch (cross-source Jaccard estimates from two 64-long vectors,
    * no second corpus pass). Map-side combine comes free with the
    * Aggregator: only one partial signature per (task, source) crosses
    * the exchange. Declared with scalar projections of the folded
    * signature (the sketch-row convention); the oracle rebuilds the
    * same fold as posexplode → per-position MIN. */
  def dedupSourceSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = load(spark, sfDir, "documents").select(col("source"),
      DedupOps.minhash(shingleFps(tokens(col("text")), 3), 64).as("sig"))
    sigs.groupBy(col("source"))
      .agg(graft.functions.SketchAggs.minhashUnion(col("sig")).as("u"),
        count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        aggregate(col("u"), lit(0L), (a, v) => a + v).as("sig_sum"),
        array_min(col("u")).as("sig_min"),
        array_max(col("u")).as("sig_max"))
  }

  /** EXACT set-similarity self-join at Jaccard ≥ 4/5 over 3-shingle
    * fingerprint sets of the near-dup-planted corpus, via
    * [[DedupOps.prefixJoin]] (prefix filtering — no false negatives).
    * The oracle is the NAIVE all-pairs token join, so a green row
    * proves the prefix filter generated every qualifying candidate —
    * the recall-100% contract the sketch families (dedup_near,
    * dedup_simhash_pairs) only approximate. Output is all-integer
    * (intersection / union sizes); J ≥ 4/5 ⟺ 9·inter ≥ 4·(sa+sb). */
  def dedupPrefixJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // r17: fanOut BELOW the shingle kernel ([[shingled]]) — prefixJoin
    // persists the fingerprint relation (the r17 pushdown-barrier fix
    // reversing the r16 rejection), so the kernel runs ONCE.
    DedupOps.prefixJoin(shingled(withNearCopies(docs(spark, sfDir))),
      "doc_id", "fps", 4, 5)
  }

  /** Hybrid lexical+semantic near-dup confirmation — the two-signal
    * curation decision: exact lexical candidates from the prefix join
    * (Jaccard ≥ 4/5 over 3-shingle sets — recall-100% by
    * [[DedupOps.prefixJoin]]'s filter lemma) CONFIRMED by embedding
    * cosine ≥ 0.99 on the aligned vectors (planted copies reuse the
    * base doc's embedding via id mod SHIFT, so true dups score 1.0;
    * lexically-similar-but-semantically-distinct short docs fall
    * away). Fusion adds NO second candidate generation: the embedding
    * evidence arrives by two vec-keyed equi-joins onto the
    * already-bounded pair set, and the cosine is the in-row native
    * kernel ([[graft.functions.HashExprs.cosineSim]]) — per-pair
    * column work, no vector shuffle beyond the pair fetch. */
  def dedupHybrid(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = DedupOps.prefixJoin(shingled(withNearCopies(docs(spark, sfDir))),
      "doc_id", "fps", 4, 5)
    val emb = load(spark, sfDir, "embeddings")
    pairs
      .join(emb.select(col("vec_id").as("ka"), col("embedding").as("ea")),
        pmod(col("id_a"), lit(SHIFT)) === col("ka"))
      .join(emb.select(col("vec_id").as("kb"), col("embedding").as("eb")),
        pmod(col("id_b"), lit(SHIFT)) === col("kb"))
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        HashExprs.cosineSim(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= 0.99)
  }

  /** Near-dup ATTRIBUTION by source — the report a curation team acts
    * on: which domains/feeds contribute duplication. Dups are planted
    * for a SUBSET (doc_id % 7 == 0) so per-source rates genuinely
    * vary; the pair relation is the exact prefix join, endpoints are
    * mapped back to base docs (mod SHIFT) and rolled up per source
    * beside the source's total count, with an all-integer ppm rate.
    * Plan: the attribution side is |dup docs| fixed-width ids joining
    * the (doc_id, source) projection — candidate generation happens
    * once in the pair step, the rollup adds only key-equi joins and
    * map-side-combined counts. The prefix join runs with the hot-element
    * skew guard engaged (maxDf = 4, same as [[dedupPrefixJoinCapped]]):
    * this is precisely the report a curation team runs on the FULL
    * corpus, where one boilerplate shingle in the prefix region would
    * otherwise bucket df² candidate pairs. The declared recall trade:
    * a dup pair whose prefixes overlap only on capped-out elements is
    * missed, slightly UNDERSTATING per-source rates — the oracle spells
    * the identical capped semantics, so the trade is hash-checked. */
  def curateDupRateBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val corpus = d.unionAll(
      d.filter(pmod(col("doc_id"), lit(7L)) === 0)
        .select((col("doc_id") + SHIFT).as("doc_id"), firstTokenDropped.as("text")))
    val pairs = DedupOps.prefixJoin(shingled(corpus), "doc_id", "fps", 4, 5, maxDf = 4)
    val members = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("cid"))
      .select(pmod(col("cid"), lit(SHIFT)).as("doc_id")).distinct()
    val src = load(spark, sfDir, "documents").select(col("doc_id"), col("source"))
    val totals = src.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val dups = members.join(src, "doc_id")
      .groupBy(col("source")).agg(count(lit(1)).as("n_dup_docs"))
    totals.join(dups, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        expr("coalesce(n_dup_docs, 0) * 1000000 div n_docs").as("ppm"))
  }

  /** [[dedupPrefixJoin]] with the hot-element skew guard engaged
    * (maxDf = 4): prefix elements shared by more than 4 docs are
    * dropped before the candidate join, so a boilerplate shingle can
    * never bucket df² pairs — completing the capped-variant symmetry
    * (MinHash, SimHash, SRP and prefix families all carry an
    * oracle-verified cap). The oracle spells the SAME capped prefix
    * semantics (per-doc (df, fp) rank ≤ p AND df ≤ cap), so the
    * declared recall trade is hash-checked, not hand-waved — and
    * VISIBLE: 591 of the uncapped 600 pairs survive at sf0.01, the 9
    * lost pairs' prefixes overlapped only on capped-out elements. */
  def dedupPrefixJoinCapped(spark: SparkSession, sfDir: String): DataFrame = {
    DedupOps.prefixJoin(shingled(withNearCopies(docs(spark, sfDir))),
      "doc_id", "fps", 4, 5, maxDf = 4)
  }

  /** Blocked fuzzy entity resolution (record linkage): treat each
    * document's leading 24 chars as an entity mention, block on the
    * mention's first token, and score candidate pairs with the native
    * Jaro–Winkler kernel ([[graft.functions.Kernels.JaroWinkler]]
    * — bit-exact to DuckDB's `jaro_winkler_similarity`, so the double
    * passes the hash gate raw, no rounding). The classic linkage
    * shape: a cheap BLOCKING equi-join bounds the candidate set (never
    * all-pairs — at 100 TB the block key would widen to
    * (first-token, length-bucket) or a phonetic key, same plan), then
    * the O(len·window) compare runs only inside blocks. sf0.1: 417k
    * candidates → 870 pairs at the 0.92 threshold. */
  def dedupEntityJw(spark: SparkSession, sfDir: String): DataFrame = {
    val m = docs(spark, sfDir)
      .select(col("doc_id"), substring(col("text"), 1, 24).as("mention"))
      .withColumn("blk", split(col("mention"), " ").getItem(0))
    val a = m.select(col("doc_id").as("doc_a"), col("mention").as("ma"), col("blk"))
    val b = m.select(col("doc_id").as("doc_b"), col("mention").as("mb"), col("blk"))
    a.join(b, Seq("blk")).filter(col("doc_a") < col("doc_b"))
      .withColumn("jw", graft.functions.HashExprs.jaroWinkler(col("ma"), col("mb")))
      .filter(col("jw") >= lit(0.92))
      .select(col("doc_a"), col("doc_b"), col("jw"))
  }

  /** Entity formation on top of [[dedupEntityJw]]: the verified JW
    * pairs become edges and connected components
    * ([[DedupOps.dupClusters]] — label-sum fixpoint, checkpointed per
    * round) collapse transitive matches into entities, each member
    * labeled with the min-id representative. The pairs → entities step
    * every record-linkage pipeline ends with; same scale posture as
    * dedup_clusters (edges are the bounded verified-pair set, never
    * the corpus). */
  def dedupEntityClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = dedupEntityJw(spark, sfDir)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    DedupOps.dupClusters(pairs)
  }

  /** Winnowing dedup (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    * plagiarism fingerprint): 12-char-gram fingerprints reduced by the
    * native window-min SELECTION kernel
    * ([[graft.functions.Kernels.WinnowMins]], w = 8 — any shared
    * substring ≥ 19 chars is guaranteed a common selected
    * fingerprint), then docs pair on selected fps through a df-capped
    * equi-join: fps with document frequency > 8 drop BEFORE pairing so
    * a boilerplate gram can never bucket df² pairs — the same
    * oracle-verified cap discipline as the MinHash/SimHash/SRP/prefix
    * families, and the recall trade is hash-VISIBLE: all 500 planted
    * near-dups survive at sf0.01; at sf0.1 the tighter relative cap
    * keeps 3883/5000 (the declared price of the guard, not a silent
    * drop). Dedup at the row level (distinct) rather than in-array so
    * neither engine depends on list-distinct ordering. */
  def dedupWinnow(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = withNearCopies(docs(spark, sfDir))
    val sel = graft.core.QueryCaches.track(
      graft.ext.SkewOps.fanOut(corpus).select(col("doc_id"),
          explode(graft.functions.HashExprs.winnowMins(
            graft.functions.HashExprs.charShingleFps(col("text"), 12), 8)).as("fp"))
        .distinct())
    val rare = sel.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 8).select(col("fp"))
    val pr = sel.join(rare, "fp")
    val a = pr.select(col("doc_id").as("doc_a"), col("fp"))
    val b = pr.select(col("doc_id").as("doc_b"), col("fp"))
    a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
  }

  /** Sorted-neighborhood blocking (Hernández–Stolfo SNM) — the third
    * candidate-generation family beside hashing (LSH bands) and prefix
    * filtering: sort the corpus by a mutation-tolerant blocking key,
    * then pair only records within a fixed rank window W. Key here =
    * the space-joined SORTED token list, so the planted first-token-
    * dropped near-dup differs from its original only from the dropped
    * token's sorted position onward and usually sorts adjacent
    * (measured on this corpus: 423/500 planted pairs inside W=5 — the
    * recall trade-off IS the method, and it is hash-visible). Pairs
    * are verified with shingle-fps Jaccard ≥ 0.7, same kernel as
    * [[dedupJaccard]]. Scale shape: the global sort rides
    * [[graft.ext.SkewOps.globalRank]] (range-repartition + per-
    * partition count scan — NO single-partition window), and the
    * window pairing is an EQUI-join: each row explodes its rank into
    * the W successor ranks and joins rank-to-rank, so the plan is two
    * bounded-fanout shuffles — never a rank-range nested loop. At
    * 100 TB, W stays constant, so candidates are W·n — linear in the
    * corpus, the property that made SNM a production record-linkage
    * staple. */
  def dedupSortedNeighborhood(spark: SparkSession, sfDir: String): DataFrame = {
    val W = 5
    val corpus = withNearCopies(docs(spark, sfDir))
    val keyed = graft.core.QueryCaches.track(
      graft.ext.SkewOps.fanOut(corpus).select(col("doc_id"),
        array_join(array_sort(tokens(col("text"))), " ").as("k"),
        shingleFps(tokens(col("text")), 3).as("fps")))
    val ranked = graft.core.QueryCaches.track(
      graft.ext.SkewOps.globalRank(keyed.select("doc_id", "k"), Seq("k", "doc_id"), "rk")
        .select(col("doc_id"), col("rk")))
    val a = ranked.select(col("doc_id").as("doc_a"), col("rk"))
      .withColumn("tgt", explode(sequence(col("rk") + 1, col("rk") + W)))
    val b = ranked.select(col("doc_id").as("doc_b"), col("rk").as("tgt"))
    val fa = keyed.select(col("doc_id").as("doc_a"), col("fps").as("fps_a"))
    val fb = keyed.select(col("doc_id").as("doc_b"), col("fps").as("fps_b"))
    a.join(b, Seq("tgt")).select(col("doc_a"), col("doc_b"))
      .join(fa, "doc_a").join(fb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        DedupOps.jaccard(col("fps_a"), col("fps_b")).as("jaccard"))
      .filter(col("jaccard") >= 0.7)
  }

  /** Bloom-filter dedup admission screen — the sketch that answers
    * "might this batch doc already be in the corpus?" WITHOUT shipping
    * the corpus fingerprint set to the batch (which is what
    * [[dedupIncremental]]'s exact join does). The filter is m = 4096
    * bits, k = 3 affine probes of the content fingerprint; spelled
    * RELATIONALLY as the distinct set-bit positions (≤ 3·|corpus|,
    * capped at 4096 rows — a bitmap in table form), so the whole
    * filter BROADCASTS as a few KB however big the corpus is: the
    * production shape is one bitmap per executor, and the FP rate
    * (1−e^(−kn/m))^k is the declared price. Every step is integer
    * arithmetic mod 1e9+7 then mod 4096 — hash-exact cross-engine like
    * [[graft.queries.EventQueries.eventsHllDistinct]] — and the probe
    * verdict sits beside the exact containment answer, so the green
    * row pins the guarantee that matters: NO false negatives (every
    * actual_dup has maybe_dup = true), false positives visible and
    * counted. Batch plants both outcomes: +1e6 exact copies of every
    * 3rd doc (dups) and +2e6 first-token-dropped texts (novel). */
  def dedupBloomScreen(spark: SparkSession, sfDir: String): DataFrame = {
    val NB = 4096L
    val P = 1000000007L
    def pos(fp: org.apache.spark.sql.Column) = array(
      (fp * 31 + 7) % P % NB, (fp * 37 + 11) % P % NB, (fp * 41 + 13) % P % NB)
    val d = docs(spark, sfDir)
    val corpusFp = graft.core.QueryCaches.track(
      d.select(fingerprint(col("text")).as("fp")))
    val filterBits = corpusFp.select(explode(pos(col("fp"))).as("pos")).distinct()
    val batch = d.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + SHIFT).as("doc_id"), col("text"))
      .unionAll(d.select((col("doc_id") + 2 * SHIFT).as("doc_id"),
        firstTokenDropped.as("text")))
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    batch.select(col("doc_id"), col("fp"), explode(pos(col("fp"))).as("pos"))
      .join(broadcast(filterBits.withColumn("hit", lit(1L))), Seq("pos"), "left")
      .groupBy(col("doc_id"), col("fp"))
      .agg((count(col("hit")) === 3).as("maybe_dup"))
      .join(broadcast(corpusFp.distinct().withColumn("indeed", lit(1L))), Seq("fp"), "left")
      .select(col("doc_id"), col("maybe_dup"), col("indeed").isNotNull.as("actual_dup"))
  }

  // ---- DuckDB oracle spellings -------------------------------------
  // Shared fragments (kept textually identical across queries so the
  // oracle exercises the same arithmetic as the Spark expressions).

  private val shinglesSql =
    s"CASE WHEN len(tk) >= 3 THEN list_transform(range(1, len(tk) - 1), " +
      s"i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) ELSE [] END"

  /** Shared by dedup_incremental (from-scratch) and dedup_index_persist
    * (from the persisted bucketed index) — one spelling, two plans. */
  private lazy val incrementalOracleSql: String =
    s"""WITH cf AS (SELECT ${foldSql("text")} AS fp, COUNT(*) AS n_corpus
       |           FROM documents GROUP BY 1),
       |batch AS (SELECT doc_id + 1000000 AS doc_id, text FROM documents
       |          UNION ALL SELECT doc_id + 2000000,
       |            substr(text, strpos(text, ' ') + 1) FROM documents
       |          UNION ALL SELECT doc_id + 3000000, text FROM documents
       |          WHERE doc_id % 5 = 0),
       |bf AS (SELECT doc_id, ${foldSql("text")} AS fp FROM batch),
       |r AS (SELECT doc_id, fp, CAST(row_number() OVER (PARTITION BY fp
       |        ORDER BY doc_id) AS BIGINT) AS rk FROM bf)
       |SELECT r.doc_id, r.fp, COALESCE(n_corpus, 0) AS n_corpus,
       |       rk > 1 AS dup_in_batch,
       |       COALESCE(n_corpus, 0) > 0 OR rk > 1 AS is_dup
       |FROM r LEFT JOIN cf USING (fp)""".stripMargin

  /** k-token window strings (the general form of [[shinglesSql]]) —
    * space-joined so the fold matches graft_shingle_fps exactly. */
  private def windowsSql(k: Int): String =
    s"CASE WHEN len(tk) >= $k THEN list_transform(range(1, len(tk) - ${k - 2}), " +
      s"i -> ${(0 until k).map(j => if (j == 0) "tk[i]" else s"tk[i+$j]").mkString(" || ' ' || ")}) " +
      "ELSE [] END"

  private val corpusExactSql =
    "SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 1000000, text FROM documents"

  private val corpusNearSql =
    "SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 1000000, substr(text, strpos(text, ' ') + 1) FROM documents"

  // the multiplier table is inlined from the kernel's own constants —
  // single source of truth, so engine and oracle cannot drift. It is
  // HOISTED through list_zip (p = (a_i, i+1) per position) rather than
  // indexed inside the per-fp lambda: DuckDB does not constant-fold a
  // list literal inside a lambda, and the per-(i, f) list construction
  // measured 180x slower (235 s vs 1.3 s on an sf0.1-sized relation).
  private val minhashSql =
    s"list_transform(list_zip([${graft.functions.HashKernels.MH_A.mkString(",")}], " +
      "range(1, 65)), p -> coalesce(list_min(list_transform(fps, " +
      "f -> (f * p[1] + 104729 * p[2]) % 1000000007)), 1000000007))"

  private val bandSql =
    "list_reduce(list_prepend(CAST(j AS BIGINT), list_slice(mh, j*4 + 1, j*4 + 4)), " +
      "(s, x) -> (s * 1000003 + x) % 1000000007)"

  /** [[bandSql]] parameterized over rows-per-band (the sweep's knob). */
  private def bandSqlR(r: Int): String =
    s"list_reduce(list_prepend(CAST(j AS BIGINT), list_slice(mh, j*$r + 1, j*$r + $r)), " +
      "(s, x) -> (s * 1000003 + x) % 1000000007)"

  private val jaccardSql =
    "len(list_filter(list_distinct(fps_a), x -> list_contains(fps_b, x))) / " +
      "len(list_distinct(list_concat(fps_a, fps_b)))"

  private val simhash30Sql =
    """list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(0, 30), j -> CASE WHEN
      |      list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(fps,
      |        f -> CAST(CASE WHEN (f % (CAST(power(2, j) AS BIGINT) * 2)) >= CAST(power(2, j) AS BIGINT)
      |                       THEN 1 ELSE -1 END AS BIGINT))), (a, b) -> a + b) > 0
      |      THEN CAST(power(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
      |    (a, b) -> a + b)""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("dedup_bloom_screen", dedupBloomScreen,
      s"""WITH cfp AS (SELECT ${foldSql("text")} AS fp FROM documents),
         |f AS (SELECT DISTINCT pos FROM (
         |    SELECT unnest([(fp*31+7) % 1000000007 % 4096,
         |                   (fp*37+11) % 1000000007 % 4096,
         |                   (fp*41+13) % 1000000007 % 4096]) AS pos FROM cfp)),
         |batch AS (SELECT doc_id + 1000000 AS doc_id, text FROM documents
         |            WHERE doc_id % 3 = 0
         |          UNION ALL
         |          SELECT doc_id + 2000000, substr(text, strpos(text, ' ') + 1)
         |            FROM documents),
         |bfp AS (SELECT doc_id, ${foldSql("text")} AS fp FROM batch)
         |SELECT doc_id,
         |  (fp*31+7) % 1000000007 % 4096 IN (SELECT pos FROM f) AND
         |  (fp*37+11) % 1000000007 % 4096 IN (SELECT pos FROM f) AND
         |  (fp*41+13) % 1000000007 % 4096 IN (SELECT pos FROM f) AS maybe_dup,
         |  fp IN (SELECT fp FROM cfp) AS actual_dup
         |FROM bfp""".stripMargin),
    QueryDef("dedup_sorted_neighborhood", dedupSortedNeighborhood,
      s"""WITH corpus AS ($corpusNearSql),
         |tk_t AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |key_t AS (SELECT doc_id, array_to_string(list_sort(tk), ' ') AS k FROM tk_t),
         |sh_t AS (SELECT doc_id, $shinglesSql AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_transform(sh, s -> ${foldSql("s")}) AS fps FROM sh_t),
         |r AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS rk FROM key_t),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 5)
         |SELECT doc_a, doc_b, $jaccardSql AS jaccard
         |FROM p JOIN (SELECT doc_id AS doc_a, fps AS fps_a FROM fp_t) fa USING (doc_a)
         |       JOIN (SELECT doc_id AS doc_b, fps AS fps_b FROM fp_t) fb USING (doc_b)
         |WHERE $jaccardSql >= 0.7""".stripMargin),
    QueryDef("dedup_canonical", dedupCanonical,
      s"""WITH RECURSIVE corpus AS ($corpusNearSql),
         |tk_t AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |sh_t AS (SELECT doc_id, $shinglesSql AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_transform(sh, s -> ${foldSql("s")}) AS fps FROM sh_t),
         |mh_t AS (SELECT doc_id, fps, $minhashSql AS mh FROM fp_t),
         |bands AS (SELECT doc_id, j AS band, $bandSql AS sig
         |          FROM mh_t, (SELECT unnest(range(0, 16)) AS j)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |verified AS (SELECT doc_a, doc_b
         |             FROM cand
         |             JOIN (SELECT doc_id AS doc_a, fps AS fps_a FROM fp_t) USING (doc_a)
         |             JOIN (SELECT doc_id AS doc_b, fps AS fps_b FROM fp_t) USING (doc_b)
         |             WHERE $jaccardSql >= 0.7),
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM verified
         |        UNION SELECT doc_b, doc_a FROM verified),
         |reach AS (SELECT a, b FROM sym
         |          UNION
         |          SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         |cl AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster_rep FROM reach GROUP BY a),
         |q AS (SELECT doc_id, GREATEST(0.0, LEAST(1.0,
         |        0.5 + CAST(len(list_filter($toksSql, t -> t IN ('the','a','data','table'))) AS BIGINT)
         |                / CAST(len($toksSql) AS BIGINT)
         |            - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) / length(text) * 2
         |            - CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) / length(text))) AS quality
         |      FROM corpus),
         |m AS (SELECT cl.cluster_rep, cl.id, q.quality,
         |             COUNT(*) OVER (PARTITION BY cl.cluster_rep) AS n_members,
         |             row_number() OVER (PARTITION BY cl.cluster_rep
         |               ORDER BY q.quality DESC, cl.id) AS rk
         |      FROM cl JOIN q ON q.doc_id = cl.id)
         |SELECT cluster_rep, id AS kept_id, quality AS best_quality, n_members
         |FROM m WHERE rk = 1""".stripMargin),
    QueryDef("dedup_clusters", dedupClusters,
      s"""WITH RECURSIVE corpus AS ($corpusNearSql),
         |tk_t AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |sh_t AS (SELECT doc_id, $shinglesSql AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_transform(sh, s -> ${foldSql("s")}) AS fps FROM sh_t),
         |mh_t AS (SELECT doc_id, fps, $minhashSql AS mh FROM fp_t),
         |bands AS (SELECT doc_id, j AS band, $bandSql AS sig
         |          FROM mh_t, (SELECT unnest(range(0, 16)) AS j)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |verified AS (SELECT doc_a, doc_b
         |             FROM cand
         |             JOIN (SELECT doc_id AS doc_a, fps AS fps_a FROM fp_t) USING (doc_a)
         |             JOIN (SELECT doc_id AS doc_b, fps AS fps_b FROM fp_t) USING (doc_b)
         |             WHERE $jaccardSql >= 0.7),
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM verified
         |        UNION SELECT doc_b, doc_a FROM verified),
         |reach AS (SELECT a, b FROM sym
         |          UNION
         |          SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
         |SELECT a AS id, LEAST(a, MIN(b)) AS cluster_rep FROM reach GROUP BY a""".stripMargin),
    QueryDef("dedup_cluster_histogram", dedupClusterHistogram,
      s"""WITH RECURSIVE corpus AS ($corpusNearSql),
         |tk_t AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |sh_t AS (SELECT doc_id, $shinglesSql AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_transform(sh, s -> ${foldSql("s")}) AS fps FROM sh_t),
         |mh_t AS (SELECT doc_id, fps, $minhashSql AS mh FROM fp_t),
         |bands AS (SELECT doc_id, j AS band, $bandSql AS sig
         |          FROM mh_t, (SELECT unnest(range(0, 16)) AS j)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |verified AS (SELECT doc_a, doc_b
         |             FROM cand
         |             JOIN (SELECT doc_id AS doc_a, fps AS fps_a FROM fp_t) USING (doc_a)
         |             JOIN (SELECT doc_id AS doc_b, fps AS fps_b FROM fp_t) USING (doc_b)
         |             WHERE $jaccardSql >= 0.7),
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM verified
         |        UNION SELECT doc_b, doc_a FROM verified),
         |reach AS (SELECT a, b FROM sym
         |          UNION
         |          SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         |reps AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster_rep
         |         FROM reach GROUP BY a),
         |alln AS (SELECT COALESCE(reps.cluster_rep, corpus.doc_id) AS rep
         |         FROM corpus LEFT JOIN reps ON corpus.doc_id = reps.id),
         |sizes AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS sz
         |          FROM alln GROUP BY rep),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM corpus)
         |SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  sz * CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  (1000 * sz * CAST(COUNT(*) AS BIGINT)) // n_tot AS mass_milli
         |FROM sizes CROSS JOIN tot GROUP BY sz, n_tot""".stripMargin),
    QueryDef("dedup_winnow", dedupWinnow,
      s"""WITH corpus AS ($corpusNearSql),
         |fp_t AS (SELECT doc_id, CASE WHEN len(text) >= 12
         |    THEN list_transform(range(1, len(text) - 10),
         |           i -> ${foldSql("substr(text, i, 12)")})
         |    ELSE [] END AS fps FROM corpus),
         |mins AS (SELECT doc_id, CASE WHEN len(fps) = 0 THEN []
         |    WHEN len(fps) < 8 THEN [list_min(fps)]
         |    ELSE list_transform(range(1, len(fps) - 6),
         |           i -> list_min(fps[i:i+7])) END AS m FROM fp_t),
         |sel AS (SELECT DISTINCT doc_id, unnest(m) AS fp FROM mins),
         |rare AS (SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= 8),
         |pr AS (SELECT sel.doc_id, sel.fp FROM sel JOIN rare USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin),
    QueryDef("dedup_entity_clusters", dedupEntityClusters,
      s"""WITH RECURSIVE m AS (SELECT doc_id, substr(text, 1, 24) AS mention,
         |             string_split(substr(text, 1, 24), ' ')[1] AS blk
         |           FROM documents),
         |verified AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |             FROM m a JOIN m b ON a.blk = b.blk AND a.doc_id < b.doc_id
         |             WHERE jaro_winkler_similarity(a.mention, b.mention) >= 0.92),
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM verified
         |        UNION SELECT doc_b, doc_a FROM verified),
         |reach AS (SELECT a, b FROM sym
         |          UNION
         |          SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
         |SELECT a AS id, LEAST(a, MIN(b)) AS cluster_rep FROM reach GROUP BY a""".stripMargin),
    QueryDef("dedup_entity_jw", dedupEntityJw,
      s"""WITH m AS (SELECT doc_id, substr(text, 1, 24) AS mention,
         |             string_split(substr(text, 1, 24), ' ')[1] AS blk
         |           FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       jaro_winkler_similarity(a.mention, b.mention) AS jw
         |FROM m a JOIN m b ON a.blk = b.blk AND a.doc_id < b.doc_id
         |WHERE jaro_winkler_similarity(a.mention, b.mention) >= 0.92""".stripMargin),
    QueryDef("dedup_edit_within", dedupEditWithin,
      s"""SELECT doc_id, levenshtein(a, b) <= 12 AS within_12
         |FROM (SELECT doc_id,
         |        substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 80) AS a,
         |        substr(regexp_replace(substr(text, strpos(text, ' ') + 1),
         |          '[^ -~]', '', 'g'), 1, 80) AS b
         |      FROM documents)""".stripMargin),
    QueryDef("dedup_edit_distance", dedupEditDistance,
      s"""SELECT doc_id,
         |  CAST(levenshtein(a, b) AS BIGINT) AS edit_dist,
         |  CAST(length(a) AS BIGINT) AS len_a,
         |  CAST(length(b) AS BIGINT) AS len_b
         |FROM (SELECT doc_id,
         |        substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 80) AS a,
         |        substr(regexp_replace(substr(text, strpos(text, ' ') + 1),
         |          '[^ -~]', '', 'g'), 1, 80) AS b
         |      FROM documents)""".stripMargin),
    QueryDef("curate_decontaminate_near", curateDecontaminateNear,
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |bench0 AS (SELECT doc_id + 1000000 AS doc_id,
         |             substr(text, strpos(text, ' ') + 1) AS text
         |           FROM documents WHERE doc_id % 97 = 0),
         |ctk AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |csh AS (SELECT doc_id, $shinglesSql AS sh FROM ctk),
         |cfp AS (SELECT doc_id, list_transform(sh, s -> ${foldSql("s")}) AS fps FROM csh),
         |cmh AS (SELECT doc_id, fps, $minhashSql AS mh FROM cfp),
         |btk AS (SELECT doc_id, $toksSql AS tk FROM bench0),
         |bsh AS (SELECT doc_id, $shinglesSql AS sh FROM btk),
         |bfp AS (SELECT doc_id, list_transform(sh, s -> ${foldSql("s")}) AS fps FROM bsh),
         |bmh AS (SELECT doc_id, fps, $minhashSql AS mh FROM bfp),
         |cb AS (SELECT doc_id, j AS band, $bandSql AS sig
         |       FROM cmh, (SELECT unnest(range(0, 16)) AS j)),
         |bb AS (SELECT doc_id AS bench_id, j AS band, $bandSql AS sig
         |       FROM bmh, (SELECT unnest(range(0, 16)) AS j)),
         |cand AS (SELECT DISTINCT cb.doc_id, bb.bench_id
         |         FROM cb JOIN bb USING (band, sig)),
         |ver AS (SELECT c.doc_id, $jaccardSql AS jaccard
         |        FROM cand c
         |        JOIN (SELECT doc_id, fps AS fps_a FROM cfp) USING (doc_id)
         |        JOIN (SELECT doc_id AS bench_id, fps AS fps_b FROM bfp) USING (bench_id))
         |SELECT doc_id, COUNT(*) AS n_bench_near, MAX(jaccard) AS max_jaccard
         |FROM ver WHERE jaccard >= 0.5 GROUP BY doc_id""".stripMargin),
    QueryDef("dedup_incremental", dedupIncremental, incrementalOracleSql),
    // dedup_index_persist: Spark admits against the reopened bucketed
    // fingerprint table; the oracle is the identical from-scratch
    // spelling — the green hash proves index == scratch.
    QueryDef("dedup_index_persist", dedupIndexPersist, incrementalOracleSql),
    // dedup_index_compact: Spark folds batch-1 counts into a
    // generation-2 bucketed index and screens batch 2 against ONLY the
    // reopened merged table; the oracle recomputes the merged counts
    // from scratch over corpus ∪ batch-1 texts — fold == rebuild.
    // dedup_index_delete: Spark decrements the reopened gen-1 index by
    // the tombstoned docs' fp counts (0-count fps dropped) and screens
    // a copy-of-everything batch against the reopened gen-3 table; the
    // oracle rebuilds the counts from scratch over corpus∖deleted.
    QueryDef("dedup_index_delete", dedupIndexDelete,
      s"""WITH kept AS (SELECT text FROM documents WHERE doc_id % 9 <> 2),
         |cf AS (SELECT ${foldSql("text")} AS fp, COUNT(*) AS n_index
         |       FROM kept GROUP BY 1),
         |batch AS (SELECT doc_id + 1000000 AS doc_id, text FROM documents),
         |bf AS (SELECT doc_id, ${foldSql("text")} AS fp FROM batch),
         |r AS (SELECT doc_id, fp, CAST(row_number() OVER (PARTITION BY fp
         |        ORDER BY doc_id) AS BIGINT) AS rk FROM bf)
         |SELECT r.doc_id, r.fp, COALESCE(n_index, 0) AS n_index,
         |       rk > 1 AS dup_in_batch,
         |       COALESCE(n_index, 0) > 0 OR rk > 1 AS is_dup
         |FROM r LEFT JOIN cf USING (fp)""".stripMargin),
    QueryDef("dedup_index_compact", dedupIndexCompact,
      s"""WITH all_t AS (SELECT text FROM documents
         |  UNION ALL SELECT text FROM documents
         |  UNION ALL SELECT substr(text, strpos(text, ' ') + 1) FROM documents
         |  UNION ALL SELECT text FROM documents WHERE doc_id % 5 = 0),
         |cf AS (SELECT ${foldSql("text")} AS fp, COUNT(*) AS n_index
         |       FROM all_t GROUP BY 1),
         |batch2 AS (SELECT doc_id + 4000000 AS doc_id, text FROM documents
         |             WHERE doc_id % 3 = 0
         |           UNION ALL SELECT doc_id + 5000000,
         |             substr(text, strpos(text, ' ') + 1) FROM documents
         |             WHERE doc_id % 11 = 0
         |           UNION ALL SELECT doc_id + 6000000, text || ' qz'
         |             FROM documents WHERE doc_id % 13 = 0),
         |bf AS (SELECT doc_id, ${foldSql("text")} AS fp FROM batch2),
         |r AS (SELECT doc_id, fp, CAST(row_number() OVER (PARTITION BY fp
         |        ORDER BY doc_id) AS BIGINT) AS rk FROM bf)
         |SELECT r.doc_id, r.fp, COALESCE(n_index, 0) AS n_index,
         |       rk > 1 AS dup_in_batch,
         |       COALESCE(n_index, 0) > 0 OR rk > 1 AS is_dup
         |FROM r LEFT JOIN cf USING (fp)""".stripMargin),
    QueryDef("dedup_substring", dedupSubstring,
      s"""WITH corpus AS ($corpusNearSql),
         |tk_t AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |sh_t AS (SELECT doc_id, ${windowsSql(10)} AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_transform(sh, s -> ${foldSql("s")}) AS fps FROM sh_t),
         |w AS (SELECT doc_id, unnest(range(0, len(fps))) AS pos, unnest(fps) AS fp FROM fp_t),
         |d_t AS (SELECT fp, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY fp),
         |s_t AS (SELECT doc_id, pos FROM w JOIN d_t USING (fp) WHERE df >= 2),
         |r_t AS (SELECT doc_id,
         |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM s_t),
         |i_t AS (SELECT doc_id, grp, COUNT(*) AS run FROM r_t GROUP BY doc_id, grp),
         |agg AS (SELECT doc_id, COUNT(*) AS n_islands,
         |          CAST(MAX(run) AS BIGINT) AS longest_run,
         |          CAST(SUM(run) AS BIGINT) AS n_shared
         |        FROM i_t GROUP BY doc_id),
         |nw AS (SELECT doc_id, COUNT(*) AS n_windows FROM w GROUP BY doc_id)
         |SELECT doc_id, n_windows, n_shared, n_islands, longest_run,
         |  CAST(longest_run + 9 AS BIGINT) AS span_tokens
         |FROM nw JOIN agg USING (doc_id)""".stripMargin),
    QueryDef("dedup_exact", dedupExact,
      s"""SELECT ${foldSql("text")} AS fp, MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
         |FROM ($corpusExactSql)
         |GROUP BY fp""".stripMargin),
    QueryDef("dedup_band_sweep", dedupBandSweep, {
      def cfg(b: Int): String = {
        val r = 64 / b
        s"""bands_$b AS (SELECT doc_id, j AS band, ${bandSqlR(r)} AS sig
           |          FROM mh_t, (SELECT unnest(range(0, $b)) AS j)),
           |conf_$b AS (SELECT CAST($b AS BIGINT) AS bands, doc_a, doc_b,
           |            $jaccardSql >= 0.5 AS ok
           |          FROM (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |                FROM bands_$b a JOIN bands_$b b
           |                  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
           |          JOIN (SELECT doc_id AS doc_a, fps AS fps_a FROM fp_t) USING (doc_a)
           |          JOIN (SELECT doc_id AS doc_b, fps AS fps_b FROM fp_t) USING (doc_b))""".stripMargin
      }
      s"""WITH corpus AS ($corpusNearSql),
         |tk_t AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |sh_t AS (SELECT doc_id, $shinglesSql AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_transform(sh, s -> ${foldSql("s")}) AS fps FROM sh_t),
         |mh_t AS (SELECT doc_id, fps, $minhashSql AS mh FROM fp_t),
         |${cfg(32)},
         |${cfg(16)},
         |${cfg(8)},
         |allc AS (SELECT * FROM conf_32 UNION ALL SELECT * FROM conf_16
         |         UNION ALL SELECT * FROM conf_8),
         |ref AS (SELECT doc_a, doc_b FROM allc WHERE bands = 32 AND ok),
         |ref_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ref FROM ref),
         |hits AS (SELECT bands, CAST(COUNT(*) AS BIGINT) AS n_ref_hit
         |         FROM allc JOIN ref USING (doc_a, doc_b) WHERE ok GROUP BY 1),
         |st AS (SELECT bands, CAST(COUNT(*) AS BIGINT) AS n_candidates,
         |         CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_confirmed
         |       FROM allc GROUP BY 1)
         |SELECT st.bands, 64 // st.bands AS rows_per_band, n_candidates, n_confirmed,
         |  (1000 * n_confirmed) // n_candidates AS precision_milli,
         |  CASE WHEN n_ref = 0 THEN NULL
         |       ELSE (1000 * n_ref_hit) // n_ref END AS recall_vs_widest_milli
         |FROM st JOIN hits USING (bands), ref_n""".stripMargin
    }),
    QueryDef("dedup_near", dedupNear,
      s"""WITH corpus AS ($corpusNearSql),
         |tk_t AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |sh_t AS (SELECT doc_id, $shinglesSql AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_transform(sh, s -> ${foldSql("s")}) AS fps FROM sh_t),
         |mh_t AS (SELECT doc_id, fps, $minhashSql AS mh FROM fp_t),
         |bands AS (SELECT doc_id, j AS band, $bandSql AS sig
         |          FROM mh_t, (SELECT unnest(range(0, 16)) AS j)),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, $jaccardSql AS jaccard
         |FROM pairs
         |JOIN (SELECT doc_id AS doc_a, fps AS fps_a FROM fp_t) USING (doc_a)
         |JOIN (SELECT doc_id AS doc_b, fps AS fps_b FROM fp_t) USING (doc_b)
         |WHERE $jaccardSql >= 0.7""".stripMargin),
    QueryDef("dedup_near_capped", dedupNearCapped,
      s"""WITH corpus AS ($corpusNearSql),
         |tk_t AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |sh_t AS (SELECT doc_id, $shinglesSql AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_transform(sh, s -> ${foldSql("s")}) AS fps FROM sh_t),
         |mh_t AS (SELECT doc_id, fps, $minhashSql AS mh FROM fp_t),
         |bands AS (SELECT doc_id, j AS band, $bandSql AS sig
         |          FROM mh_t, (SELECT unnest(range(0, 16)) AS j)),
         |kept AS (SELECT band, sig FROM bands GROUP BY band, sig HAVING COUNT(*) <= 4),
         |cb AS (SELECT doc_id, band, sig FROM bands JOIN kept USING (band, sig)),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM cb a JOIN cb b
         |            ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, $jaccardSql AS jaccard
         |FROM pairs
         |JOIN (SELECT doc_id AS doc_a, fps AS fps_a FROM fp_t) USING (doc_a)
         |JOIN (SELECT doc_id AS doc_b, fps AS fps_b FROM fp_t) USING (doc_b)
         |WHERE $jaccardSql >= 0.7""".stripMargin),
    QueryDef("dedup_simhash", dedupSimhash,
      s"""WITH fp_t AS (SELECT doc_id,
         |    list_transform($toksSql, t -> ${foldSql("t")}) AS fps FROM documents)
         |SELECT doc_id, $simhash30Sql AS simhash
         |FROM fp_t""".stripMargin),
    QueryDef("dedup_simhash_pairs", dedupSimhashPairs,
      s"""WITH corpus AS ($corpusExactSql),
         |fp_t AS (SELECT doc_id, list_transform($toksSql, t -> ${foldSql("t")}) AS fps FROM corpus),
         |s_t AS (SELECT doc_id, $simhash30Sql AS sig FROM fp_t),
         |h_t AS (SELECT doc_id, sig, sig % 32768 AS lo, sig // 32768 AS hi FROM s_t),
         |cand AS (SELECT a.doc_id AS da, b.doc_id AS db, a.sig AS sa, b.sig AS sb
         |         FROM h_t a JOIN h_t b ON a.lo = b.lo AND a.doc_id < b.doc_id
         |         UNION ALL
         |         SELECT a.doc_id, b.doc_id, a.sig, b.sig
         |         FROM h_t a JOIN h_t b ON a.hi = b.hi AND a.doc_id < b.doc_id)
         |SELECT DISTINCT da AS doc_a, db AS doc_b,
         |       CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 2""".stripMargin),
    QueryDef("dedup_simhash_pairs_capped", dedupSimhashPairsCapped,
      s"""WITH corpus AS ($corpusExactSql),
         |fp_t AS (SELECT doc_id, list_transform($toksSql, t -> ${foldSql("t")}) AS fps FROM corpus),
         |s_t AS (SELECT doc_id, $simhash30Sql AS sig FROM fp_t),
         |b_t AS (SELECT doc_id, sig, j AS band,
         |        (sig // CAST(power(2, j*10) AS BIGINT)) % 1024 AS bkey
         |        FROM s_t, (SELECT unnest(range(0, 3)) AS j)),
         |kept AS (SELECT band, bkey FROM b_t GROUP BY band, bkey HAVING COUNT(*) <= 4),
         |cb AS (SELECT doc_id, sig, band, bkey FROM b_t JOIN kept USING (band, bkey)),
         |cand AS (SELECT a.doc_id AS da, b.doc_id AS db, a.sig AS sa, b.sig AS sb
         |         FROM cb a JOIN cb b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT DISTINCT da AS doc_a, db AS doc_b,
         |       CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 2""".stripMargin),
    QueryDef("dedup_minhash_est", dedupMinhashEst,
      s"""WITH tk_t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |sh_t AS (SELECT doc_id, $shinglesSql AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_transform(sh, s -> ${foldSql("s")}) AS fps FROM sh_t),
         |mh_t AS (SELECT doc_id, fps, $minhashSql AS mh FROM fp_t)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 65),
         |    i -> CAST(CASE WHEN mh_a[i] = mh_b[i] THEN 1 ELSE 0 END AS BIGINT))),
         |    (acc, v) -> acc + v) AS DOUBLE) / 64.0 AS est_jaccard,
         |  $jaccardSql AS jaccard
         |FROM (SELECT doc_id, fps AS fps_a, mh AS mh_a FROM mh_t) a
         |JOIN (SELECT doc_id, fps AS fps_b, mh AS mh_b FROM mh_t) b ON b.doc_id = a.doc_id + 1""".stripMargin),
    QueryDef("dedup_char_jaccard", dedupCharJaccard,
      s"""WITH fp_t AS (SELECT doc_id,
         |    CASE WHEN len(text) >= 5
         |         THEN list_transform(range(1, len(text) - 3), i -> ${foldSql("substr(text, i, 5)")})
         |         ELSE [] END AS fps FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $jaccardSql AS jaccard
         |FROM (SELECT doc_id, fps AS fps_a FROM fp_t) a
         |JOIN (SELECT doc_id, fps AS fps_b FROM fp_t) b ON b.doc_id = a.doc_id + 1""".stripMargin),
    QueryDef("dedup_source_sketch", dedupSourceSketch,
      s"""WITH tk_t AS (SELECT doc_id, source, $toksSql AS tk FROM documents),
         |sh_t AS (SELECT doc_id, source, $shinglesSql AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, source, list_transform(sh, s -> ${foldSql("s")}) AS fps FROM sh_t),
         |mh_t AS (SELECT doc_id, source, $minhashSql AS mh FROM fp_t),
         |e AS (SELECT source, generate_subscripts(mh, 1) AS pos, unnest(mh) AS v FROM mh_t),
         |m AS (SELECT source, pos, MIN(v) AS mv, COUNT(*) AS nd
         |      FROM e GROUP BY source, pos)
         |SELECT source, CAST(MAX(nd) AS BIGINT) AS n_docs,
         |       CAST(SUM(mv) AS BIGINT) AS sig_sum,
         |       MIN(mv) AS sig_min, MAX(mv) AS sig_max
         |FROM m GROUP BY source""".stripMargin),
    QueryDef("dedup_containment", dedupContainment,
      s"""WITH tk_t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |f_t AS (SELECT doc_id, $shinglesSql AS sh FROM tk_t),
         |full_t AS (SELECT doc_id, list_transform(sh, s -> ${foldSql("s")}) AS fps FROM f_t),
         |sn_tk AS (SELECT doc_id, tk[1:(len(tk)+1)//2] AS tk FROM tk_t),
         |s_t AS (SELECT doc_id, $shinglesSql AS sh FROM sn_tk),
         |snip_t AS (SELECT doc_id + 1000000 AS doc_id, list_transform(sh, s -> ${foldSql("s")}) AS fps FROM s_t)
         |SELECT doc_a, doc_b, $jaccardSql AS jaccard,
         |  len(list_filter(list_distinct(fps_a), x -> list_contains(fps_b, x)))
         |    / len(list_distinct(fps_b)) AS containment_snip,
         |  len(list_filter(list_distinct(fps_a), x -> list_contains(fps_b, x)))
         |    / len(list_distinct(fps_a)) AS containment_full
         |FROM (SELECT doc_id AS doc_a, fps AS fps_a FROM full_t) a
         |JOIN (SELECT doc_id AS doc_b, fps AS fps_b FROM snip_t) b
         |  ON doc_b = doc_a + 1000000
         |WHERE len(fps_a) > 0 AND len(fps_b) > 0""".stripMargin),
    QueryDef("dedup_prefix_join_capped", dedupPrefixJoinCapped,
      s"""WITH corpus AS ($corpusNearSql),
         |tk_t AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |sh_t AS (SELECT doc_id, $shinglesSql AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_distinct(list_transform(sh, s -> ${foldSql("s")})) AS fps FROM sh_t),
         |tok AS (SELECT doc_id, unnest(fps) AS fp FROM fp_t WHERE len(fps) > 0),
         |d_t AS (SELECT fp, count(*) AS df FROM tok GROUP BY fp),
         |rk AS (SELECT t.doc_id, t.fp, d.df,
         |         row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.fp) AS rn,
         |         count(*) OVER (PARTITION BY t.doc_id) AS s
         |       FROM tok t JOIN d_t d USING (fp)),
         |pref AS (SELECT doc_id, fp FROM rk
         |         WHERE rn <= s - (4 * s + 4) // 5 + 1 AND df <= 4),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM pref a JOIN pref b ON a.fp = b.fp AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, len(fps) AS s FROM fp_t WHERE len(fps) > 0),
         |iv AS (SELECT id_a, id_b, count(*) AS inter
         |       FROM cand JOIN tok ta ON ta.doc_id = id_a
         |                 JOIN tok tb ON tb.doc_id = id_b AND tb.fp = ta.fp
         |       GROUP BY 1, 2)
         |SELECT id_a, id_b, inter, sa.s + sb.s - inter AS uni
         |FROM iv JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |WHERE 9 * inter >= 4 * (sa.s + sb.s)""".stripMargin),
    QueryDef("curate_dup_rate_by_source", curateDupRateBySource,
      s"""WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL
         |  SELECT doc_id + 1000000, substr(text, strpos(text, ' ') + 1)
         |  FROM documents WHERE doc_id % 7 = 0),
         |tk_t AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |sh_t AS (SELECT doc_id, $shinglesSql AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_distinct(list_transform(sh, s -> ${foldSql("s")})) AS fps FROM sh_t),
         |tok AS (SELECT doc_id, unnest(fps) AS fp FROM fp_t WHERE len(fps) > 0),
         |sz AS (SELECT doc_id, len(fps) AS s FROM fp_t WHERE len(fps) > 0),
         |d_t AS (SELECT fp, count(*) AS df FROM tok GROUP BY fp),
         |rk AS (SELECT t.doc_id, t.fp, d.df,
         |         row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.fp) AS rn,
         |         count(*) OVER (PARTITION BY t.doc_id) AS s
         |       FROM tok t JOIN d_t d USING (fp)),
         |pref AS (SELECT doc_id, fp FROM rk
         |         WHERE rn <= s - (4 * s + 4) // 5 + 1 AND df <= 4),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM pref a JOIN pref b ON a.fp = b.fp AND a.doc_id < b.doc_id),
         |pr AS (SELECT id_a, id_b, count(*) AS inter
         |       FROM cand JOIN tok ta ON ta.doc_id = id_a
         |                 JOIN tok tb ON tb.doc_id = id_b AND tb.fp = ta.fp
         |       GROUP BY 1, 2),
         |lex AS (SELECT id_a, id_b FROM pr
         |        JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |        WHERE 9 * inter >= 4 * (sa.s + sb.s)),
         |mem AS (SELECT DISTINCT cid % 1000000 AS doc_id FROM
         |        (SELECT id_a AS cid FROM lex UNION ALL SELECT id_b FROM lex)),
         |tot AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
         |dup AS (SELECT source, COUNT(*) AS n_dup_docs
         |        FROM mem JOIN documents USING (doc_id) GROUP BY 1)
         |SELECT source, n_docs, coalesce(n_dup_docs, 0) AS n_dup_docs,
         |  CAST(coalesce(n_dup_docs, 0) * 1000000 // n_docs AS BIGINT) AS ppm
         |FROM tot LEFT JOIN dup USING (source)""".stripMargin),
    QueryDef("dedup_hybrid", dedupHybrid, {
      val dot = (a: String, b: String) =>
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($a)+1), " +
          s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (s,x) -> s + x)"
      val cos = s"${dot("ea", "eb")} / (sqrt(${dot("ea", "ea")}) * sqrt(${dot("eb", "eb")}))"
      s"""WITH corpus AS ($corpusNearSql),
         |tk_t AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |sh_t AS (SELECT doc_id, $shinglesSql AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_distinct(list_transform(sh, s -> ${foldSql("s")})) AS fps FROM sh_t),
         |tok AS (SELECT doc_id, unnest(fps) AS fp FROM fp_t WHERE len(fps) > 0),
         |sz AS (SELECT doc_id, len(fps) AS s FROM fp_t WHERE len(fps) > 0),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |       FROM tok a JOIN tok b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |lex AS (SELECT id_a, id_b, inter, sa.s + sb.s - inter AS uni
         |        FROM pr JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |        WHERE 9 * inter >= 4 * (sa.s + sb.s)),
         |wv AS (SELECT id_a, id_b, inter, uni, va.embedding AS ea, vb.embedding AS eb
         |       FROM lex JOIN embeddings va ON id_a % 1000000 = va.vec_id
         |                JOIN embeddings vb ON id_b % 1000000 = vb.vec_id)
         |SELECT id_a, id_b, inter, uni, $cos AS cos
         |FROM wv WHERE $cos >= 0.99""".stripMargin
    }),
    QueryDef("dedup_prefix_join", dedupPrefixJoin,
      s"""WITH corpus AS ($corpusNearSql),
         |tk_t AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |sh_t AS (SELECT doc_id, $shinglesSql AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_distinct(list_transform(sh, s -> ${foldSql("s")})) AS fps FROM sh_t),
         |tok AS (SELECT doc_id, unnest(fps) AS fp FROM fp_t WHERE len(fps) > 0),
         |sz AS (SELECT doc_id, len(fps) AS s FROM fp_t WHERE len(fps) > 0),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |          FROM tok a JOIN tok b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b, inter, sa.s + sb.s - inter AS uni
         |FROM pairs JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |WHERE 9 * inter >= 4 * (sa.s + sb.s)""".stripMargin),
    QueryDef("dedup_jaccard", dedupJaccard,
      s"""WITH tk_t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |sh_t AS (SELECT doc_id, $shinglesSql AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_transform(sh, s -> ${foldSql("s")}) AS fps FROM sh_t)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $jaccardSql AS jaccard
         |FROM (SELECT doc_id, fps AS fps_a FROM fp_t) a
         |JOIN (SELECT doc_id, fps AS fps_b FROM fp_t) b ON b.doc_id = a.doc_id + 1""".stripMargin))
}
