package graft.sql

import graft.ext.MultimodalOps.{ByteHistCountsExpr, ByteHistExpr, ByteSegGradHashExpr, ByteStatsExpr}
import graft.functions.HashExprs._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** SQL-visible registration of every graft native function (SURVEY
  * §7.1 `sql/` layer): users on the pure-SQL path (`spark.sql`, JDBC,
  * notebooks) get the same single-pass kernels as the DataFrame DSL —
  * `SELECT graft_minhash_sig(fps, 64) FROM ...`.
  *
  * Installed with the rest of the extension — see [[GraftExtensions]]
  * for the install contract.
  *
  * Sketch-size arguments (hash count, bands, bits…) must be integer
  * literals — they parameterize plan-time expression construction, not
  * per-row input.
  */
object GraftFunctions {

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal argument, got: $other")
  }

  /** name → (usage doc, builder). */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_fingerprint", "graft_fingerprint(str) - polynomial content hash",
      es => FingerprintExpr(es.head)),
    ("graft_token_fps", "graft_token_fps(tokens) - per-token fingerprints",
      es => TokenFpsExpr(es.head)),
    ("graft_shingle_fps", "graft_shingle_fps(tokens, k) - k-gram shingle fingerprints",
      es => ShingleFpsExpr(es.head, intLit(es(1), "graft_shingle_fps"))),
    ("graft_minhash_sig", "graft_minhash_sig(fps, n) - n-hash MinHash signature",
      es => MinHashSigExpr(es.head, intLit(es(1), "graft_minhash_sig"))),
    ("graft_band_keys", "graft_band_keys(sig, b, r) - banded LSH bucket keys",
      es => BandKeysExpr(es.head, intLit(es(1), "graft_band_keys"),
        intLit(es(2), "graft_band_keys"))),
    ("graft_modal_ngram_count",
      "graft_modal_ngram_count(tokens, k) - max occurrence count of any k-gram",
      es => ModalNgramCountExpr(es.head, intLit(es(1), "graft_modal_ngram_count"))),
    ("graft_simhash", "graft_simhash(fps, bits) - SimHash bit signature",
      es => SimHashExpr(es.head, intLit(es(1), "graft_simhash"))),
    ("graft_cosine", "graft_cosine(a, b) - cosine similarity of vectors",
      es => CosineExpr(es.head, es(1))),
    ("graft_dot", "graft_dot(a, b) - inner product of vectors (MIPS score)",
      es => DotExpr(es.head, es(1))),
    ("graft_srp_bucket", "graft_srp_bucket(vec, bits) - sign-random-projection LSH bucket",
      es => SrpBucketExpr(es.head, intLit(es(1), "graft_srp_bucket"))),
    ("graft_char_entropy_bound",
      "graft_char_entropy_bound(str) - [n_codepoints, distinct, sum k*floor(log2(n/k))] entropy lower bound",
      es => CharEntropyBoundExpr(es.head)),
    ("graft_log2_millis",
      "graft_log2_millis(q) - integer millibit log2: binade floor-log2 + piecewise-linear fraction",
      es => Log2MillisExpr(es.head)),
    ("graft_cdc_chunks",
      "graft_cdc_chunks(str, w, mask) - content-defined chunk fingerprints (rolling-hash cuts)",
      es => CdcChunkFpsExpr(es.head, intLit(es(1), "graft_cdc_chunks"),
        intLit(es(2), "graft_cdc_chunks").toLong)),
    ("graft_cdc_chunks_bin",
      "graft_cdc_chunks_bin(bin, w, mask) - content-defined chunk fingerprints over raw bytes",
      es => CdcChunkFpsBinExpr(es.head, intLit(es(1), "graft_cdc_chunks_bin"),
        intLit(es(2), "graft_cdc_chunks_bin").toLong)),
    ("graft_varint_cost",
      "graft_varint_cost(longs) - [n, raw_bytes, encoded_bytes] under delta+zigzag+varint",
      es => VarintCostExpr(es.head)),
    ("graft_byte_stats", "graft_byte_stats(bin) - n/sum/min/max over raw bytes",
      es => ByteStatsExpr(es.head)),
    ("graft_byte_hist", "graft_byte_hist(bin, bins) - normalized byte histogram",
      es => ByteHistExpr(es.head, intLit(es(1), "graft_byte_hist"))),
    ("graft_byte_hist_counts",
      "graft_byte_hist_counts(bin, bins) - integer byte-bucket counts",
      es => ByteHistCountsExpr(es.head, intLit(es(1), "graft_byte_hist_counts"))),
    ("graft_byte_phash",
      "graft_byte_phash(bin, segs) - positional segment-gradient perceptual hash",
      es => ByteSegGradHashExpr(es.head, intLit(es(1), "graft_byte_phash"))),
    ("graft_byte_laplacian",
      "graft_byte_laplacian(bin) - discrete-Laplacian (second-difference) energy",
      es => graft.ext.MultimodalOps.ByteLaplacianExpr(es.head)),
    ("graft_byte_runs",
      "graft_byte_runs(bin) - [n_runs, max_run, run8_bytes] run-length profile",
      es => graft.ext.MultimodalOps.ByteRunStatsExpr(es.head)),
    // Spark's internal runtime-filter pair, surfaced for the SQL path
    // (upstream registers neither): build with graft_bloom_agg(
    // xxhash64(k), items, bits) in a scalar subquery, probe with
    // graft_might_contain(bf, xxhash64(k)) — see SkewOps.bloomPrunedSemiJoin
    // for the DataFrame form and the eager-literal variant.
    ("graft_bloom_agg",
      "graft_bloom_agg(longCol, est_items, num_bits) - bloom filter aggregate (binary)",
      // size args must be LongType literals; SQL integer literals
      // arrive as INT, so fold-cast them up
      es => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(es.head,
          org.apache.spark.sql.catalyst.expressions.Cast(es(1), org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.catalyst.expressions.Cast(es(2), org.apache.spark.sql.types.LongType))
        .toAggregateExpression()),
    ("graft_zorder",
      "graft_zorder(a, b, bits) - Morton/Z-order bit interleave of two keys",
      es => ZInterleaveExpr(es.head, es(1), intLit(es(2), "graft_zorder"))),
    ("graft_dtw",
      "graft_dtw(a, b, band) - banded Sakoe-Chiba DTW distance of integer series",
      es => DtwBandExpr(es.head, es(1), intLit(es(2), "graft_dtw"))),
    ("graft_edit_within",
      "graft_edit_within(a, b, k) - banded early-exit levenshtein(a,b) <= k",
      es => EditWithinExpr(es.head, es(1), intLit(es(2), "graft_edit_within"))),
    ("graft_winnow_mins",
      "graft_winnow_mins(fps, w) - winnowing window-min fingerprint selection",
      es => WinnowMinsExpr(es.head, intLit(es(1), "graft_winnow_mins"))),
    ("graft_jaro_winkler",
      "graft_jaro_winkler(a, b) - Jaro-Winkler similarity (record linkage)",
      es => JaroWinklerExpr(es.head, es(1))),
    ("graft_might_contain",
      "graft_might_contain(bloom_bin, longCol) - bloom membership probe",
      es => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(es.head, es(1))),
    ("graft_resize",
      "graft_resize(pixels, w, h, ow, oh) - area-average resample of a row-major float grid",
      es => graft.ext.MultimodalOps.ResizePixelsExpr(es.head, es(1), es(2),
        intLit(es(3), "graft_resize"), intLit(es(4), "graft_resize"))),
    ("graft_byte_bandhash",
      "graft_byte_bandhash(bin, frames, bands) - audio-style band-energy fingerprint",
      es => graft.ext.MultimodalOps.ByteBandEnergyHashExpr(es.head,
        intLit(es(1), "graft_byte_bandhash"), intLit(es(2), "graft_byte_bandhash"))),
    // SQL-side flat_map (SURVEY §2.3): a true Catalyst Generator —
    // `LATERAL VIEW graft_explode_shingles(text, k) s AS pos, shingle`
    ("graft_explode_shingles",
      "graft_explode_shingles(text, k) - UDTF: one row per k-token shingle with position",
      es => graft.functions.ExplodeShinglesExpr(
        es.head, intLit(es(1), "graft_explode_shingles"))),
    ("graft_explode_frames",
      "graft_explode_frames(bin, n) - UDTF: one row per equal-size media frame",
      es => graft.functions.ExplodeFramesExpr(
        es.head, intLit(es(1), "graft_explode_frames"))),
    ("graft_explode_bigrams",
      "graft_explode_bigrams(text) - UDTF: one row per adjacent token pair (pos, w1, w2)",
      es => graft.functions.ExplodeBigramsExpr(es.head)))

  private[sql] def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.0.0", "", "scala_udf")

  /** Register (or refresh) every graft function on a live session. */
  private[sql] def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, usage, b) =>
      reg.registerFunction(FunctionIdentifier(name), info(name, usage), b)
    }
  }
}

/** The graft extension: every SQL function of [[GraftFunctions]], the
  * optimizer rules [[graft.plans.LshJoinRewrite]],
  * [[graft.plans.IntervalJoinRewrite]] and [[graft.plans.MvRewrite]],
  * and the planner strategy [[graft.plans.AsOfJoinStrategy]].
  *
  * Install contract — the one way anything graft provides reaches a
  * session:
  *  - built in: `spark.sql.extensions=graft.sql.GraftExtensions` when
  *    the session is built ([[graft.Harness.session]] does this);
  *  - [[GraftExtensions.setup]] for a session built without it. Library
  *    code that needs any of these calls `setup` on its session; it is
  *    idempotent.
  *
  * Installed rules are inert until a caller opts in: the LSH and
  * interval rewrites on their confs, the MV rewrite on a registered
  * view; the strategy matches only graft's own plan node.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, usage, b) =>
      ext.injectFunction((FunctionIdentifier(name), GraftFunctions.info(name, usage), b))
    }
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  private def rules: Seq[Rule[LogicalPlan]] = Seq(graft.plans.LshJoinRewrite(),
    graft.plans.IntervalJoinRewrite(), graft.plans.MvRewrite())

  /** Install the extension on a session built without it. Idempotent: a
    * session built with the extension, or already set up, is left as it
    * is, and no rule is ever added twice. */
  def setup(spark: SparkSession): Unit = synchronized {
    val strategy = graft.plans.AsOfJoinStrategy
    if (!spark.sessionState.planner.strategies.contains(strategy)) {
      GraftFunctions.register(spark)
      val present = spark.experimental.extraOptimizations.map(_.getClass).toSet
      spark.experimental.extraOptimizations ++= rules.filterNot(r => present(r.getClass))
      spark.experimental.extraStrategies :+= strategy
    }
  }
}
