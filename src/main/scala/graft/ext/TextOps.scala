package graft.ext

import graft.core.QueryCaches
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column library for large-scale training-data pipelines
  * (extension beyond the reference surface — SURVEY.md §2.2). Everything
  * here is pure `org.apache.spark.sql.functions` composition: codegen'd,
  * whole-stage-fusable, no UDFs — the shape that survives a 100 TB scan.
  *
  * Determinism contract: every function is bit-reproducible and has an
  * exact DuckDB spelling (integer counts, int/int IEEE division, or the
  * left-fold polynomial hash), so results hash-match the oracle.
  */
object TextOps {

  /** Split on single spaces, dropping empty tokens (leading/trailing/
    * double spaces). DuckDB: list_filter(string_split(c,' '), t -> t <> ''). */
  def tokens(c: Column): Column =
    filter(split(c, " "), t => t =!= lit(""))

  /** Token count as BIGINT (DuckDB len() is BIGINT; Spark size() is INT). */
  def tokenCount(c: Column): Column = size(tokens(c)).cast("bigint")

  /** Mean token length: exact integer sum / integer count → one IEEE
    * division, deterministic across engines. */
  def avgTokenLen(toks: Column): Column =
    aggregate(transform(toks, t => length(t).cast("bigint")), lit(0L), (a, b) => a + b) /
      size(toks).cast("bigint")

  /** Fraction of tokens belonging to `words` (e.g. stopwords). */
  def wordRatio(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*))).cast("bigint") / size(toks).cast("bigint")

  /** Count of tokens belonging to `words`. */
  def wordCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*))).cast("bigint")

  /** Rolling polynomial document fingerprint over characters:
    * fold(h = (h*31 + codepoint) mod 1e9+7). A content-addressable id
    * that both engines compute identically (left fold over codepoints,
    * single-pass native expression — see graft.functions.HashExprs).
    * DuckDB: list_reduce(list_prepend(0, list_transform(string_split(c,''),
    *   ch -> CAST(unicode(ch) AS BIGINT))), (a,b) -> (a*31+b) % 1000000007).
    */
  def fingerprint(c: Column): Column = graft.functions.HashExprs.fingerprint(c)

  /** Count-min-sketch token frequencies — the mergeable heavy-hitter
    * sketch completing the approximate family (HLL distincts, GK
    * quantiles, CMS counts): per-partition sketches of width ⌈2/eps⌉
    * (Spark's CountMinSketchImpl sizing, not stream-lib's ⌈e/eps⌉)
    * merge associatively map-side, so the exchange carries ONE
    * fixed-size sketch per task instead of the token vocabulary — the
    * 100 TB trade against the exact [[graft.queries.TextQueries
    * .textTokenFreq]] wordcount. Deterministic (fixed seed). Returns
    * the merged sketch; estimates are one-sided: est ≥ true, and
    * est ≤ true + eps·N with probability `confidence` (the spec bounds
    * both on the real corpus against exact counts). */
  def tokenFreqSketch(docs: org.apache.spark.sql.DataFrame,
      eps: Double = 0.0001, confidence: Double = 0.99)
      : org.apache.spark.util.sketch.CountMinSketch = {
    val bytes = docs.select(explode(tokens(col("text"))).as("token"))
      .agg(expr(s"count_min_sketch(token, ${eps}d, ${confidence}d, 42)").as("sk"))
      .head().getAs[Array[Byte]](0)
    org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
  }

  /** Word k-gram shingles over a token array (1-based element access in
    * both engines). The unit of near-duplicate detection. Guarded for
    * docs shorter than k tokens (Spark's sequence(1, 0) would generate a
    * DESCENDING range, not an empty one — DuckDB's range(1, 1) is empty). */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Language marker-word lexicons for the heuristic language ID.
    * (The driver's synthetic corpus shares one vocabulary across its
    * `lang` labels, so these markers are drawn from that vocabulary to
    * produce a varied, deterministic classification — the operator shape
    * is what matters: per-language token-hit scoring + argmax.) */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("group", "key", "hash", "merge"),
    "en" -> Seq("the", "a", "data", "table"),
    "es" -> Seq("line", "row", "column", "value"),
    "fr" -> Seq("sort", "filter", "join", "window"),
    "zh" -> Seq("spark", "query", "stream", "batch"))

  /** Argmax over marker-hit counts with deterministic first-wins
    * tie-break in lexicographic language order (de,en,es,fr,zh). */
  def langId(toks: Column): Column = {
    val scores = langMarkers.map { case (lang, ws) => lang -> wordCount(toks, ws) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), els) => when(s === best && s > 0, lang).otherwise(els) }
  }

  /** Per-domain admission cap — the C4/Gopher-style "at most k docs per
    * domain" guard against a single crawl host dominating the training
    * mix. Keeps the k best rows per `domainCol` under the deterministic
    * priority `ord` (pass a tie-breaking column last — a non-total
    * order would make admission nondeterministic across runs), with the
    * rank exposed as `rk`. Scale: a rank-filter window, but Spark plans
    * `rank <= k` as WindowGroupLimit — each map task pre-trims to its
    * local top-k per domain BEFORE the exchange, so the shuffle carries
    * ≤ k·|domains| rows per task, not the corpus (PlanSpec-pinned).
    * A pathological single domain costs one k-bounded heap per task —
    * never a full-domain sort. */
  def perDomainCap(df: org.apache.spark.sql.DataFrame, domainCol: String,
      k: Int, ord: Seq[Column]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("rk", row_number().over(
        Window.partitionBy(col(domainCol)).orderBy(ord: _*)).cast("bigint"))
      .filter(col("rk") <= k)
  }

  /** FULL BPE tokenizer-training loop (Sennrich et al. 2016) — the
    * library composition of the oracle-pinned single step
    * (graft.queries.TextQueries.textBpeMergeStep), the
    * [[SimOps.kmeans]]-vs-`sim_kmeans` pattern: the corpus collapses
    * ONCE to its distinct-word vocab weighted by counts; every merge
    * round is then vocab-sized work — count adjacent symbol pairs
    * weighted by word count (map-side combined), take the modal pair
    * (count desc, pair asc — a 1-row TakeOrdered, the only driver
    * materialization per round beside the 1-row fertility fold), and
    * rewrite every word's representation with the non-overlapping
    * left-to-right `replace`. Rounds run on [[QueryCaches.iterate]]
    * (checkpointed per round), so lineage stays flat at any merge
    * count. Stops early when no adjacent pair remains (every word
    * fused to one symbol).
    *
    * Returns the MERGE TABLE — the trained tokenizer artifact:
    * (step, merged_pair, pcount, fertility_milli), where
    * fertility_milli = 1000·Σ cnt·|symbols| div Σ cnt AFTER applying
    * that step's merge — the curve a tokenizer team reads to pick
    * vocab size (where fertility flattens, merges stop paying).
    * 100 TB posture: the corpus is scanned exactly once (wordcount);
    * rounds touch only the vocab relation; the merge table itself is
    * `merges` rows on the driver — the model, not data. */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
      merges: Int): org.apache.spark.sql.DataFrame =
    bpeTrainFromWords(
      docs.select(explode(tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt")),
      merges)

  /** [[bpeTrain]] over an ALREADY-COMPUTED weighted word relation
    * (w, cnt) — callers that need the wordcount for their own
    * downstream stages (text_bpe_apply's application pass,
    * text_bpe_heldout's train-side folds) pass the shared persisted
    * relation here instead of paying a second corpus scan + wordcount
    * shuffle inside training (guide §2.4: the corpus is touched once).
    *
    * r18 round shape (2 jobs per merge instead of 3): each round runs
    * (a) the rewrite + localCheckpoint of the vocab and (b) ONE
    * combined aggregate over the new vocab's exploded adjacent-pair
    * relation that yields BOTH the next round's modal pair
    * (min(struct(-pcount, pair)) — identical to ORDER BY pcount DESC,
    * pair ASC: longs negate exactly, struct comparison is
    * lexicographic, and both engines compare strings bytewise) AND
    * this round's fertility via Σpcount: every word contributes
    * (|symbols|−1) weighted pairs, so Σ cnt·|symbols| = Σpcount + W
    * with W = Σ cnt the invariant total word mass (computed once) —
    * the separate per-round fertility job collapses into the pair
    * count. All-integer, so fertility_milli is bit-identical to the
    * former 1000·Σ cnt·|symbols| div W spelling. */
  def bpeTrainFromWords(words: org.apache.spark.sql.DataFrame,
      merges: Int): org.apache.spark.sql.DataFrame = {
    val reps0 = QueryCaches.checkpoint(words
      .select(col("cnt"), array_join(split(col("w"), ""), " ").as("rep")))
    try bpeTrainFromReps(reps0, merges)
    finally QueryCaches.drop(reps0)
  }

  /** [[bpeTrainFromWords]] over an ALREADY-CHECKPOINTED round-0 vocab
    * (cnt, rep) — for callers (text_bpe_apply) that replay the merge
    * table over the SAME relation afterwards: sharing the checkpoint
    * keeps the corpus at one scan AND keeps the round-0 partitioning
    * the AQE-coalesced one (a trial that shared a PERSISTED wordcount
    * instead pinned 32 near-empty cache partitions under every
    * training round — the canChangeCachedPlanOutputPartitioning trap
    * Bench.scala documents — and cost text_bpe_apply ~25%: 1.73 →
    * 2.16 s, tasks 49 → 575, interleaved Profile A/B at sf0.1).
    * `reps0` must be a [[QueryCaches.checkpoint]]; it is the
    * [[QueryCaches.iterate]] seed, so the caller owns its lifecycle
    * (training is fully eager, so the caller may drop it as soon as
    * this returns). */
  def bpeTrainFromReps(reps0: org.apache.spark.sql.DataFrame,
      merges: Int): org.apache.spark.sql.DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val spark = reps0.sparkSession
    import spark.implicits._
    // (modal pair, its count, Σ all pair counts) in ONE job. Empty pair
    // relation (every word fused to one symbol, or empty corpus) →
    // null top struct → None; Σ coalesces to 0 (fertility is then
    // exactly 1000·W div W, matching the old per-round fold).
    def pairStats(df: org.apache.spark.sql.DataFrame): (Option[(String, Long)], Long) = {
      val syms = split(col("rep"), " ")
      val pairsArr = zip_with(
        slice(syms, lit(1), size(syms) - 1), slice(syms, lit(2), size(syms) - 1),
        (a, b) => concat(a, lit(" "), b))
      val r = df.select(col("cnt"), explode(pairsArr).as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("pcount"))
        .agg(min(struct((-col("pcount")).as("np"), col("pair"))).as("top"),
          coalesce(sum(col("pcount")), lit(0L)).as("ptot"))
        .head()
      val top = if (r.isNullAt(0)) None else {
        val s = r.getStruct(0)
        Some((s.getString(1), -s.getLong(0)))
      }
      (top, r.getLong(1))
    }
    // W = Σ cnt — invariant across merges (merges fuse symbols inside
    // words, never words). One job, once.
    val w0 = reps0.agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
    var topPair = pairStats(reps0)._1
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    if (topPair.isDefined) {
      val last = QueryCaches.iterate(reps0, merges) { reps =>
        val pair = topPair.get._1
        // lit()-bound arguments (not string-spliced SQL): corpus tokens
        // may contain quotes/backslashes.
        reps.select(col("cnt"),
          call_function("replace", col("rep"), lit(pair), lit(pair.replace(" ", ""))).as("rep"))
      } { reps =>
        val (pair, pcount) = topPair.get
        val (nextTop, ptot) = pairStats(reps)
        out += ((out.size + 1L, pair, pcount, (1000L * (ptot + w0)) / w0))
        topPair = nextTop
        topPair.isEmpty
      }
      QueryCaches.drop(last) // the merge table is driver-side; the final vocab is scratch
    }
    out.toSeq.toDF("step", "merged_pair", "pcount", "fertility_milli")
  }
}
