package graft.queries

import graft.ext.TextOps
import graft.ext.TextOps._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import OracleFragments._
import Tables._

/** Text-analysis suite over the `documents` table: quality stats,
  * polynomial fingerprinting, heuristic language ID, corpus token
  * frequencies. All pure column expressions (codegen, no UDF).
  */
object TextQueries {

  // The quality features the quality-scoring builders share, over the
  // `documents` columns `text` and `n_chars`. The regex char-classes
  // are the dialect-portable subset (identical in Java regex and RE2).
  private def nPunct: Column = expr("regexp_count(text, '[.,!?;:]')").cast("bigint")
  private def nDigits: Column = expr("regexp_count(text, '[0-9]')").cast("bigint")
  private def nChars: Column = col("n_chars").cast("bigint")
  private def stopRatio: Column =
    wordRatio(tokens(col("text")), Seq("the", "a", "data", "table"))

  /** The tracked per-doc token arrays `(doc_id, tk)`. */
  private def docTokens(d: DataFrame): DataFrame =
    graft.core.QueryCaches.track(d.select(col("doc_id"), tokens(col("text")).as("tk")))

  /** Corpus unigram counts `(w, c1)` over the token arrays `tk`. */
  private def unigramCounts(tk: DataFrame): DataFrame =
    tk.select(explode(col("tk")).as("w")).groupBy(col("w")).agg(count(lit(1)).as("c1"))

  /** The tracked line relation `(doc_id, line_no, line, lfp)` of the
    * line-dedup rows: each doc's tokens behind a planted per-source
    * 5-token nav header, cut into consecutive 5-token lines. */
  private def docLines(d: DataFrame): DataFrame = {
    val allToks = concat(
      array(lit("nav"), lit("home"), col("source"), lit("menu"), lit("login")),
      tokens(col("text")))
    // line i = tokens[5i..5i+4] (last chunk may be short); the header
    // is exactly one chunk so content chunk boundaries are unshifted
    val lineArr = transform(
      sequence(lit(0), ((size(allToks) - lit(1)) / lit(5)).cast("int")),
      i => array_join(slice(allToks, i * lit(5) + lit(1), lit(5)), " "))
    graft.core.QueryCaches.track(
      graft.ext.SkewOps.fanOut(d)
        .select(col("doc_id"), posexplode(lineArr).as(Seq("line_no", "line")))
        .select(col("doc_id"), col("line_no").cast("bigint").as("line_no"),
          col("line"), fingerprint(col("line")).as("lfp")))
  }

  /** Each doc's DISTINCT token 5-gram fingerprints `(doc_id, fp)`. */
  private def docFiveGrams(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents").select(col("doc_id"),
      explode(array_distinct(
        graft.ext.DedupOps.shingleFps(tokens(col("text")), 5))).as("fp"))

  /** DSIR's hashed bigram features `(doc_id, lang, b)`: token-bigram
    * fingerprints of `textCol` quantized to 512 buckets. */
  private def bigramBuckets(df: DataFrame, textCol: String): DataFrame =
    df.select(col("doc_id"), col("lang"),
        explode(graft.functions.HashExprs.shingleFps(tokens(col(textCol)), 2)).as("fp"))
      .select(col("doc_id"), col("lang"), pmod(col("fp"), lit(512L)).as("b"))

  /** DSIR importance weights over [[bigramBuckets]]: per bucket the
    * add-one target(en)/raw ratio `w` in ppm, and the 1-row mean
    * weight `mean_w`. */
  private def dsirWeights(grams: DataFrame): (DataFrame, DataFrame) = {
    val w = grams.groupBy(col("b"))
      .agg(count(lit(1)).as("r_cnt"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_cnt"))
      .select(col("b"), expr("(t_cnt + 1) * 1000000 div (r_cnt + 1)").as("w"))
    (w, w.agg(expr("sum(w) div count(1)").as("mean_w")))
  }

  /** The composite [0,1] quality score: stopword presence up-weights,
    * punct/digit walls down-weight. */
  private def qualityScore: Column = greatest(lit(0.0), least(lit(1.0),
    lit(0.5) + stopRatio - (nPunct / nChars) * 2 - (nDigits / nChars)))

  /** Per-document quality stats: token count, mean token length,
    * stopword ratio, distinct-token ratio (lexical diversity). */
  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = load(spark, sfDir, "documents")
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      col("n_chars"),
      tokenCount(col("text")).as("n_tokens"),
      avgTokenLen(toks).as("avg_token_len"),
      wordRatio(toks, Seq("the", "a")).as("stop_ratio"),
      (size(array_distinct(toks)).cast("bigint") / size(toks).cast("bigint")).as("distinct_ratio"))
  }

  /** Content-addressable rolling-hash fingerprint per document. */
  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents")
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** Sliding-window token chunking — the RAG-index preprocessing op:
    * every document becomes overlapping 32-token windows on a
    * 24-token stride (8 tokens of overlap keep sentence fragments
    * retrievable from either side of a boundary), each chunk carrying
    * its offset, length, and content fingerprint — the (doc_id,
    * chunk_idx) → fp relation an embedding pipeline consumes and a
    * chunk-granular dedup keys on. Reference analog: flat_map
    * (`/root/reference/pypeln/process/api/flat_map.py:9-18`) — one
    * input element fanning out to derived elements, here with the
    * child offset carried the way pypeln extends the element index.
    * Chunk COUNT is derived, never iterated: 1 + ⌈(n−32)/24⌉ spelled
    * as an integer division, the chunk list is `sequence(...)`
    * exploded, and the slice/join/fingerprint are all codegen column
    * expressions — at 100 TB this is a pure one-scan map with output
    * linear in token count (≈ n/24 chunks per doc), no shuffle, no
    * UDF, and the fingerprint rides the native [[fingerprint]]
    * kernel. DuckDB mirrors with list_slice (inclusive end indexes)
    * over the same whitespace token convention. */
  private[queries] def chunkRel(spark: SparkSession, sfDir: String): DataFrame =
    chunkOf(load(spark, sfDir, "documents"))

  /** The chunking transform itself — pure stateless column algebra, so
    * it applies unchanged to a STREAMING DataFrame (the readStream →
    * chunk → writeStream RAG-ingest path; StreamingSpec parity). */
  def chunkOf(docs: DataFrame): DataFrame = {
    val C = 32L // chunk size (tokens)
    val S = 24L // stride (tokens)
    docs
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("bigint"))
      // integer ceil: 1 + (n - C + S - 1) div S once n exceeds one chunk
      .withColumn("n_chunks",
        lit(1L) + when(col("n") > C, expr(s"(n - $C + ${S - 1}) div $S")).otherwise(lit(0L)))
      .select(col("doc_id"), col("source"), col("toks"), col("n"),
        posexplode(expr("sequence(0, n_chunks - 1)")).as(Seq("pos", "i")))
      .withColumn("start_tok", lit(1L) + col("i") * S)
      .withColumn("chunk", expr(s"slice(toks, start_tok, $C)"))
      .select(col("doc_id"), col("source"), col("i").as("chunk_idx"),
        col("start_tok"), size(col("chunk")).cast("bigint").as("n_tok"),
        fingerprint(concat_ws(" ", col("chunk"))).as("fp"))
  }

  def textChunk(spark: SparkSession, sfDir: String): DataFrame =
    chunkRel(spark, sfDir)
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("n_tok"), col("fp"))

  /** Chunk-granular dedup audit per source — [[textChunk]]'s relation
    * rolled into the retrieval-index health metric: a RAG index built
    * on these chunks stores n_distinct vectors, not n_chunks, and a
    * source whose dup share is high (boilerplate repeated across its
    * documents) wastes index space and biases retrieval toward the
    * repeated content. dup_milli = 1000·(n_chunks − n_distinct) div
    * n_chunks, all integer. Plan: the chunk map (no shuffle) feeds ONE
    * map-side-combined aggregate keyed (source, fp), then a
    * sources-bounded rollup — the exact/(fp,count) collapse posture of
    * the document-level dedup rows, one granularity down. */
  def curateChunkDedup(spark: SparkSession, sfDir: String): DataFrame =
    chunkRel(spark, sfDir)
      .groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("n_in_dup_groups"))
      .withColumn("dup_milli",
        expr("(1000 * (n_chunks - n_distinct)) div n_chunks"))

  /** Heaps'-law vocabulary-growth profile — the corpus scaling-law
    * audit a tokenizer/vocab decision rests on: how many NEW distinct
    * tokens each doubling of the corpus contributes (vocab ~ K·nᵝ
    * shows as straight decay across log2 prefixes; a corpus whose
    * curve flattens early is repetitive, one that keeps climbing has
    * unbounded vocabulary pressure). Exact and one-pass at any scale:
    * a token's prefix bucket is floor(log2(first_doc_id+1)) — the
    * all-integer length(bin())−1 idiom — computed from ONE
    * min-aggregate over the (token, doc) pairs; the cumulative vocab
    * per doubling is a ≤64-row broadcast self-join (never a global
    * window). */
  def textHeaps(spark: SparkSession, sfDir: String): DataFrame = {
    val firsts = load(spark, sfDir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
    val buckets = graft.core.QueryCaches.track(
      firsts.select((length(bin(col("first_doc") + 1)) - 1).cast("bigint").as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("n_new")))
    buckets.join(broadcast(buckets.select(col("b").as("b2"), col("n_new").as("m"))),
        col("b2") <= col("b"))
      .groupBy(col("b"))
      .agg(max(col("n_new")).as("n_new"), sum(col("m")).as("vocab_cum"))
      .select(col("b").as("log2_docs"), col("n_new"), col("vocab_cum"))
  }

  /** Zipf's-law slope of the token frequency distribution — the
    * scaling-law companion to [[textHeaps]] on the FREQUENCY axis: a
    * natural corpus has log f ≈ −s·log r + c over the head ranks with
    * s ≈ 1; a flattened slope means templated/duplicated text, a steep
    * one a vocabulary collapse — the one-row corpus fingerprint a
    * curation dashboard tracks per source drop. OLS over
    * (log2 rank, log2 freq) for the top-64 tokens, every term INTEGER:
    * both logs ride the millibit fast-log (binade floor-log2 +
    * piecewise-linear fraction, the [[textPerplexity]] kernel), the
    * slope is sign·(|n·Σxy − ΣxΣy|·1000 div (n·Σx² − (Σx)²)) and the
    * fit quality r² the [[qCorrStats]] two-step division — so the row
    * is bit-exact cross-engine with no library log anywhere. Scale:
    * wordcount with map-side combine, and the top-64 rank filter stays
    * on the UNCAST row_number so it plans as a partial top-k
    * (TakeOrderedAndProject — each task forwards 64 rows, the
    * vocabulary never sorts in one partition); everything after is a
    * 64-row fold. */
  /** Multinomial Naive Bayes language ID — the LEARNED counterpart of
    * [[textLangId]]'s fixed marker heuristic: the classifier is trained
    * on the corpus's own (lang, token) counts with add-1 smoothing and
    * scored back over every document, surfacing the full confusion
    * matrix (where the weak labels and the learned model disagree — the
    * label-noise screen run before trusting `lang` downstream). ALL
    * arithmetic in exact MILLIBITS off the shared integer fast-log
    * kernel (`graft_log2_millis`, bit-identical to the oracle's
    * length(bin(q))−1 spelling): score(d, L) = Σ_matched mlog(c(L,tok)+1)
    * − n_tok·mlog(c(L)+V) + mlog(n_docs_L); unmatched tokens contribute
    * mlog(1) = 0 by construction, so the inner model join IS the
    * smoothing. Prediction = per-doc max score, ties to the
    * lexicographically-least language via an equi-join back (no struct
    * argmax crosses an engine boundary). Scale: the model is
    * vocab×|langs|-bounded and broadcasts (the [[textPerplexity]]
    * contract), the lang table is |langs| rows crossed onto the
    * docs×|langs| grid, scoring is ONE corpus explode with a
    * map-side-combined (doc, lang) fold. */
  /** The NB (doc_id, lang, lang_c, score) grid shared by
    * [[textNbLangid]] and [[textLangidMargin]] — callers track it
    * query-scoped. */
  private def nbScoreGrid(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HashExprs.log2Millis
    val d = load(spark, sfDir, "documents")
    val tok = graft.core.QueryCaches.track(
      d.select(col("doc_id"), explode(tokens(col("text"))).as("tok")))
    val model = graft.core.QueryCaches.track(
      d.select(col("lang").as("lang_c"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("lang_c"), col("tok")).agg(count(lit(1)).as("c")))
    val vocab = tok.agg(countDistinct(col("tok")).as("v"))
    val lt = model.groupBy(col("lang_c")).agg(sum(col("c")).as("ctot"))
    val pri = d.groupBy(col("lang").as("lang_c")).agg(count(lit(1)).as("nd"))
    val langs = lt.join(pri, Seq("lang_c")).crossJoin(broadcast(vocab))
      .select(col("lang_c"), log2Millis(col("ctot") + col("v")).as("dmlog"),
        log2Millis(col("nd")).as("pmlog"))
    val matched = tok
      .join(broadcast(model.withColumn("mlog", log2Millis(col("c") + 1))
        .select(col("tok"), col("lang_c"), col("mlog"))), Seq("tok"))
      .groupBy(col("doc_id"), col("lang_c")).agg(sum(col("mlog")).as("s"))
    d.select(col("doc_id"), col("lang"), tokenCount(col("text")).as("n_tok"))
      .crossJoin(broadcast(langs))
      .join(matched, Seq("doc_id", "lang_c"), "left")
      .withColumn("score", coalesce(col("s"), lit(0L)) -
        col("n_tok") * col("dmlog") + col("pmlog"))
  }

  def textNbLangid(spark: SparkSession, sfDir: String): DataFrame = {
    val grid = graft.core.QueryCaches.track(nbScoreGrid(spark, sfDir))
    val best = grid.groupBy(col("doc_id")).agg(max(col("score")).as("mx"))
    grid.join(best, Seq("doc_id"))
      .filter(col("score") === col("mx"))
      .groupBy(col("doc_id"), col("lang")).agg(min(col("lang_c")).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n_docs"))
  }

  /** NB confidence CALIBRATION — does the classifier's margin actually
    * predict correctness? Per document the margin between the best and
    * second-best language score (exact millibits; a tie reads as
    * margin 0), banded at 1-bit resolution into (n_docs, n_correct) —
    * the reliability curve read before using [[textNbLangid]]'s
    * predictions to OVERRIDE weak labels (high-margin disagreements
    * are relabel candidates; low-margin ones are abstentions). Same
    * vocab-bounded grid machinery; the margin fold adds one |langs|-
    * bounded aggregate per doc and a band rollup. */
  def textLangidMargin(spark: SparkSession, sfDir: String): DataFrame = {
    val grid = graft.core.QueryCaches.track(nbScoreGrid(spark, sfDir))
    val best = grid.groupBy(col("doc_id")).agg(max(col("score")).as("mx"))
    val g2 = graft.core.QueryCaches.track(grid.join(best, Seq("doc_id")))
    val pred = g2.filter(col("score") === col("mx"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(col("lang_c")).as("pred_lang"), max(col("mx")).as("mx"))
    val second = g2.filter(col("score") < col("mx"))
      .groupBy(col("doc_id")).agg(max(col("score")).as("mx2"))
    pred.join(second, Seq("doc_id"), "left")
      .select(col("lang"), col("pred_lang"),
        coalesce(col("mx") - col("mx2"), lit(0L)).as("margin"))
      .groupBy(expr("margin div 1000").as("margin_bits"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang") === col("pred_lang"), 1L).otherwise(0L))
          .as("n_correct"))
  }

  /** Corpus-driven stopword DISCOVERY — the data-dependent list the
    * fixed stopword sets ([[textStats]]' ratio, BM25's pruning) should
    * be validated against per corpus: every token appearing in more
    * than half the documents, with its document frequency and the
    * share of ALL token occurrences it absorbs (coverage — what a
    * stop-list actually buys at scan time). All-integer milli
    * readouts. Scale: one corpus explode feeds both the distinct
    * (doc, token) df count and the occurrence count (persisted once);
    * the two scalar totals broadcast; output is vocabulary-bounded and
    * tiny (high-df tokens are rare by Zipf). */
  def textStopwordDisco(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val tok = graft.core.QueryCaches.track(
      d.select(col("doc_id"), explode(tokens(col("text"))).as("tok")))
    val dfreq = tok.distinct().groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val cfreq = tok.groupBy(col("tok")).agg(count(lit(1)).as("cf"))
    val total = tok.agg(count(lit(1)).as("total"))
    dfreq.join(cfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(total))
      .filter(lit(2L) * col("df") > col("n_docs"))
      .select(col("tok"), col("df"), col("cf"),
        expr("(1000 * df) div n_docs").as("df_milli"),
        expr("(1000 * cf) div total").as("coverage_milli"))
  }

  def textZipf(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HashExprs.log2Millis
    val freq = load(spark, sfDir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val top = freq
      .withColumn("rk0", row_number().over(Window.orderBy(col("cnt").desc, col("token"))))
      .filter(col("rk0") <= 64)
      .select(col("rk0").cast("bigint").as("rank"), col("cnt"))
      .withColumn("x", log2Millis(col("rank") * lit(1048576L)) - lit(20000L))
      .withColumn("y", log2Millis(col("cnt") * lit(1048576L)) - lit(20000L))
    top.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_tokens"),
        expr("n * sxy - sx * sy").as("num"),
        expr("n * sxx - sx * sx").as("denx"),
        expr("n * syy - sy * sy").as("deny"))
      .select(col("n_tokens"),
        expr("CAST(signum(num) AS BIGINT) * ((abs(num) * 1000) div denx)")
          .as("slope_milli"),
        expr("CASE WHEN deny = 0 THEN NULL ELSE " +
          "CAST(((1000 * abs(num) div denx) * abs(num)) div deny AS BIGINT) END")
          .as("r2_milli"))
  }

  /** Tokenizer-fertility card — the cost model behind a tokenizer/vocab
    * decision, per language: BPE-ish subword tokens per whitespace word
    * (fertility: >1.3 for a language means its text pays a length tax
    * in the context window) and characters per subword token, both as
    * exact integer milli-ratios from corpus-total sums (never means of
    * per-doc ratios — that would weight short docs up). Reuses
    * [[textBpeTokens]]' regex token counts. Plan: one scan with the
    * regexes in the projection, one |langs|-group map-side-combined
    * aggregate — the data-card posture. */
  def curateFertility(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents")
      .select(col("lang"),
        tokenCount(col("text")).as("n_ws"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("bigint").as("n_bpe"),
        length(col("text")).cast("bigint").as("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("n_words"),
        sum(col("n_bpe")).as("n_subwords"),
        sum(col("n_chars")).as("n_chars"))
      .withColumn("fertility_milli", expr("(1000 * n_subwords) div greatest(n_words, 1)"))
      .withColumn("chars_per_subword_milli",
        expr("(1000 * n_chars) div greatest(n_subwords, 1)"))

  /** Heuristic language ID (marker-token argmax) vs. the labeled lang. */
  def textLangId(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = load(spark, sfDir, "documents")
    docs.select(col("doc_id"), col("lang"),
      langId(tokens(col("text"))).as("pred_lang"))
  }

  /** Language-ID confusion matrix — [[textLangId]]'s per-doc
    * prediction rolled into the QA artifact a labeler actually reads:
    * (labeled lang × predicted lang) cell counts with the per-label
    * row total and diagonal flag, so recall per language and every
    * systematic confusion are one green row away from the hash. The
    * classifier-audit op for any heuristic tagger in the pipeline
    * (here the marker-word lang-id). Plan: one scan with the scorer
    * inline, one |langs|²-bounded map-side-combined aggregate, totals
    * re-derived from the CELLS (|langs|² rows, not a second corpus
    * pass) and broadcast back. */
  def textLangidConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val cm = graft.core.QueryCaches.track(
      load(spark, sfDir, "documents")
        .select(col("lang"), langId(tokens(col("text"))).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n")))
    val tot = cm.groupBy(col("lang")).agg(sum(col("n")).cast("bigint").as("lang_total"))
    cm.join(broadcast(tot), "lang")
      .select(col("lang"), col("pred_lang"), col("n"), col("lang_total"),
        (col("lang") === col("pred_lang")).as("is_diagonal"))
  }

  /** Corpus-wide token frequency, top 20 (count desc, token asc) —
    * the canonical map-side-combine wordcount: explode shuffles only
    * (token, partial count) pairs after partial aggregation. */
  def textTokenFreq(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = load(spark, sfDir, "documents")
    val freq = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    freq.withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("token"))).cast("bigint"))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("token"), col("cnt"))
  }

  /** Collocation mining — top-10 bigrams by PMI-style LIFT,
    * lift = c(xy)·N / (c(x)·c(y)) (how much more often the pair
    * co-occurs than independence predicts): the corpus-linguistics op
    * behind phrase detection / tokenizer-merge candidates. The
    * numerator and denominator are exact int64 products; ONE IEEE
    * division per bigram (same order both engines) yields the score,
    * ties broken by bigram text — no logs, so no cross-engine ulp
    * risk (log-PMI orders identically to lift). Floor c(xy) ≥ 5 (the
    * standard noise floor). Plan: bigram and unigram counts are two
    * map-side-combined aggregates of the same scan family; the
    * unigram relation joins twice by token (vocabulary-sized); the
    * rank filter plans as a partial top-k. */
  def textCollocations(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
    val toks = d.select(tokens(col("text")).as("tk"))
    val uni = graft.core.QueryCaches.track(unigramCounts(toks))
    val n = toks.select(explode(col("tk")).as("w")).agg(count(lit(1)).as("n"))
    val bi = toks
      .select(explode(expr(
        "CASE WHEN size(tk) >= 2 THEN transform(sequence(0, size(tk) - 2), " +
          "i -> struct(tk[i] AS w1, tk[i + 1] AS w2)) ELSE array() END")).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= 5)
    val scored = bi
      .join(uni.select(col("w").as("w1"), col("c1").as("cx")), "w1")
      .join(uni.select(col("w").as("w2"), col("c1").as("cy")), "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("cxy"), col("cx"), col("cy"),
        ((col("cxy") * col("n")).cast("double") /
          (col("cx") * col("cy")).cast("double")).as("lift"))
    // rank filter BEFORE the bigint cast: the cast on the rank column
    // defeats the InsertWindowGroupLimit pattern and loses the partial
    // top-k (each map task would ship its whole bigram table)
    scored.withColumn("rank0", row_number().over(
        Window.orderBy(col("lift").desc, col("w1"), col("w2"))))
      .filter(col("rank0") <= 10)
      .select(col("w1"), col("w2"), col("cxy"), col("cx"), col("cy"),
        col("lift"), col("rank0").cast("bigint").as("rank"))
  }

  /** Quality scoring: punctuation density, digit density, mean word
    * length and a composite [0,1] quality score — the boilerplate/spam
    * filters every pretraining pipeline runs first. Pure column
    * arithmetic; the regex char-class is the dialect-portable subset
    * (no shorthand classes, identical in Java regex and RE2). */
  def textQuality(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents").select(col("doc_id"),
        nPunct.as("n_punct"), nDigits.as("n_digits"),
        (nPunct / nChars).as("punct_ratio"),
        (nDigits / nChars).as("digit_ratio"),
        stopRatio.as("stop_ratio"))
      // composite: stopword presence up-weights, punct/digit walls down-weight
      .withColumn("quality",
        greatest(lit(0.0), least(lit(1.0),
          lit(0.5) + col("stop_ratio") - col("punct_ratio") * 2 - col("digit_ratio"))))

  /** Per-source token-distribution drift — `q_drift`'s all-integer TVD
    * verdict lifted to TEXT: each source's token distribution against
    * the whole-corpus mix, TVD = ½ Σ|p_s − p_g| spelled with cross
    * multiplication (|c_s·N − c_g·N_s| summed as DECIMAL(38,0), ONE
    * integral division per source) so the hash gate carries it exactly
    * — the mixture-shift monitor a curation pipeline runs when a new
    * crawl lands (a source whose token mix diverges from the corpus is
    * boilerplate, another language, or spam; cf. curate_mix which
    * rebalances BY this kind of signal). The absent-token terms are
    * real (a source missing a corpus-common token IS drift), so the
    * per-source sum runs over sources × vocabulary via a bounded
    * cross join — vocabulary-bounded, not corpus-bounded, the same
    * scale argument as every lexical aggregate here. */
  def curateSourceDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = graft.core.QueryCaches.track(
      load(spark, sfDir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("tok")))
    val bySrc = graft.core.QueryCaches.track(
      tok.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_s")))
    val srcN = bySrc.groupBy(col("source")).agg(sum(col("c_s")).as("n_s"),
      count(lit(1)).as("n_distinct_s"))
    val glob = graft.core.QueryCaches.track(
      bySrc.groupBy(col("tok")).agg(sum(col("c_s")).as("c_g")))
    val n = glob.agg(sum(col("c_g")).as("n"))
    // full (source × vocabulary) grid: absent tokens must contribute
    srcN.crossJoin(broadcast(n))
      .join(glob.crossJoin(srcN.select(col("source"))),
        Seq("source"))
      .join(bySrc, Seq("source", "tok"), "left")
      .select(col("source"), col("n_s"), col("n_distinct_s"), col("n"),
        abs(coalesce(col("c_s"), lit(0L)).cast(DecimalType(38, 0)) * col("n") -
          col("c_g").cast(DecimalType(38, 0)) * col("n_s")).as("term"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"), max(col("n_distinct_s")).as("n_distinct"),
        expr("CAST((1000 * sum(term)) div (2 * max(n_s) * max(n)) AS BIGINT)")
          .as("tvd_vs_corpus_milli"))
  }

  /** Feature-hashing (hashing-trick) audit — the vectorizer every
    * large-scale text classifier actually ships (fixed 64-bucket
    * hashed bag-of-words, no vocabulary build) measured against the
    * exact token-count vector it approximates: per doc, ‖φ(x)‖² under
    * bucket collisions vs the exact Σ tf² — the distortion ratio IS
    * the collision cost, reported in milli units via one integral
    * division. All integers, so the hash gate carries the whole audit.
    * Plan at 100 TB: token explode → two doc-keyed count aggregates
    * (map-side combined; the (doc, bucket) relation is docs×64 max,
    * the (doc, token) one docs×vocab-per-doc) → one docs-sized join.
    * No vocabulary table, no global dictionary exchange — the entire
    * point of the hashing trick, stated as a plan shape. */
  def textFeatureHash(spark: SparkSession, sfDir: String): DataFrame = {
    val B = 64
    val tok = load(spark, sfDir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val t = graft.core.QueryCaches.track(tok)
    val hashed = t
      .select(col("doc_id"),
        (graft.ext.TextOps.fingerprint(col("tok")) % B).as("bucket"))
      .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("used_buckets"),
        sum(col("c") * col("c")).as("hashed_norm_sq"))
    val exact = t
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_tokens"),
        sum(col("c")).as("n_tokens"),
        sum(col("c") * col("c")).as("exact_norm_sq"))
    exact.join(hashed, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        col("used_buckets"), col("exact_norm_sq"), col("hashed_norm_sq"),
        expr("CAST((1000 * hashed_norm_sq) div exact_norm_sq AS BIGINT)")
          .as("distortion_milli"))
  }

  /** Character-entropy quality signal — the information-theoretic
    * sibling of [[textQuality]]'s ratio heuristics and
    * [[textRepetition]]'s n-gram view: per doc, the integer Shannon
    * LOWER bound Σ k_c·⌊log2(n/k_c)⌋ bits from the one-pass native
    * kernel [[graft.functions.HashExprs.charEntropyBound]] (real
    * entropy needs ln() — the same float the HLL sketch keeps out of
    * its hashed surface — so the hash gate carries the floor-log2
    * bound both engines compute bit-identically). Low bits-per-char
    * flags repeated-character/boilerplate walls that length and
    * stopword ratios miss. Plan at 100 TB: ONE codegen'd kernel call
    * per document inside the scan projection — no char explode, no
    * shuffle before the final docs-sized projection (the DuckDB oracle
    * explodes per char; the Spark side must NOT, that is the point of
    * the kernel). */
  def textEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val e = graft.functions.HashExprs.charEntropyBound(col("text"))
    load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), e.as("e"))
      .select(col("doc_id"), col("lang"),
        col("e").getItem(0).as("n_cp"),
        col("e").getItem(1).as("distinct_chars"),
        col("e").getItem(2).as("entropy_bound_bits"))
      .withColumn("milli_bits_per_char",
        expr("CAST((1000 * entropy_bound_bits) div n_cp AS BIGINT)"))
  }

  /** BPE-ish token counting: GPT-2-style pre-tokenizer classes —
    * letter runs, digit runs, single non-alphanumerics — via
    * regexp_extract_all (the alternation branches are disjoint char
    * classes, so Java and RE2 agree). n_ws is the whitespace baseline;
    * the bpe/ws ratio is the fertility proxy used to size token
    * budgets. */
  def textBpeTokens(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents").select(col("doc_id"),
      tokenCount(col("text")).as("n_ws"),
      size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .cast("bigint").as("n_bpe"),
      size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
        .cast("bigint").as("n_alpha"))

  /** The composed training-data curation pipeline in ONE declared
    * query — what a pretraining-data user actually runs: corpus (with
    * planted exact duplicates) → quality score ≥ 0.5 → language-ID
    * filter (drop 'und') → exact dedup keep-first on the content
    * fingerprint → per-language corpus stats. Every stage is one of
    * this suite's oracle-gated kernels; composing them under a single
    * hash check proves the operators pipeline correctly, not just
    * individually. Plan shape: one scan, all scoring in the scan
    * projection, two hash aggregations (fp dedup, language rollup) —
    * the minimum shuffles for the semantics at any scale. */
  def curatePipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents").select(col("doc_id"), col("text"), col("n_chars"))
    val corpus = d.unionAll(
      d.select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("n_chars")))
    val scored = corpus.select(col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      langId(tokens(col("text"))).as("pred_lang"),
      qualityScore.as("quality"),
      fingerprint(col("text")).as("fp"))
    // group by (fp, pred_lang): identical text implies identical
    // pred_lang, so this is the same dedup — and keeping the string
    // out of the aggregate buffer keeps the aggregation hash-based
    // (min(string) would force SortAggregate + an extra sort)
    scored.filter(col("quality") >= 0.5 && col("pred_lang") =!= "und")
      .groupBy(col("fp"), col("pred_lang"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("n_tokens")).as("n_tokens"))
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
  }

  /** PII scrubbing — the redaction pass every pretraining pipeline
    * runs: plant a deterministic email per document (the synthetic
    * corpus has none, and a green row must prove something was
    * actually redacted), count matches, and fingerprint the redacted
    * text. The email pattern uses only character classes, `+` and an
    * escaped dot — the Java-regex/RE2 common subset, so both engines
    * see identical matches; Spark's regexp_replace is global by
    * default and the oracle passes 'g'. */
  def textRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val pat = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
    load(spark, sfDir, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com now")).as("text"))
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(text, '${pat.replace("\\", "\\\\")}', 0)"))
          .cast("bigint").as("n_emails"),
        fingerprint(regexp_replace(col("text"), pat, "[EMAIL]")).as("redacted_fp"))
  }

  /** Deterministic stratified sampling for training-data mixing:
    * admit a document iff `fingerprint(text) mod 100` falls under its
    * language's mixing rate (en 40%, others 15%). Hash-based sampling
    * is THE reproducible mixing primitive at 100 TB — no RNG state, no
    * seed plumbing, stable under retries/re-partitioning, and any two
    * engines agree (which is also what makes it oracle-able, unlike
    * `sample()`). Content-keyed: a duplicated doc is sampled
    * identically everywhere it appears. Output: per-language admitted
    * counts + the rate for the row's audit. */
  def curateSample(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
    val rate = when(col("lang") === "en", 40L).otherwise(15L)
    d.select(col("doc_id"), col("lang"), rate.as("rate"),
        pmod(fingerprint(col("text")), lit(100L)).as("h"))
      .filter(col("h") < col("rate"))
      .groupBy(col("lang"), col("rate"))
      .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"))
  }

  /** Weighted (probability-proportional-to-size) Bernoulli sampling —
    * the companion to [[curateSample]]'s stratified rates: each doc is
    * admitted with probability n_chars/2000 (longer docs more likely),
    * decided by `fingerprint(text) mod 2000 < n_chars`. Same
    * reproducibility contract: content-keyed, no RNG, stable under
    * retries and re-partitioning, identical in any engine. PPS is the
    * variance-optimal design for totals correlated with the weight;
    * each sampled row carries its Horvitz-Thompson contribution
    * (tok_n · 2000)/n_chars — an unbiased estimate of corpus token
    * count from the sample alone (spelled with the same operation
    * order in both engines: int·int product, then ONE IEEE division).
    * Pure per-row scan work — no shuffle at any corpus size. */
  def curatePpsSample(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"), TextOps.tokenCount(col("text")).as("tok_n"),
        pmod(fingerprint(col("text")), lit(2000L)).as("h"))
      .filter(col("h") < col("n_chars"))
      .select(col("doc_id"), col("n_chars"), col("tok_n"),
        ((col("tok_n") * lit(2000L)).cast("double") / col("n_chars").cast("double"))
          .as("ht_contrib"))

  /** Neyman (variance-optimal) stratified allocation — the survey-
    * sampling upgrade of [[curateSample]]'s fixed rates (Neyman 1934):
    * with a 10%-of-corpus budget, stratum h gets n·(N_h·S_h)/Σ(N_h·S_h)
    * slots — more where there are more docs AND more length variance,
    * which is what minimizes the variance of the estimated total.
    * Integer-exact end to end: per-stratum variance via the
    * sum-of-squares identity, S_h as floor(sqrt(·)) — IEEE sqrt is
    * correctly rounded, so both engines floor the identical double
    * (the curate_temperature_mix precedent) — and the allocation one
    * integral division. Selection is then deterministic: docs rank by
    * content hash WITHIN their stratum (a lang-partitioned sort — the
    * stratum axis parallelizes; no global order anywhere) and the
    * top-alloc_h admit. The |langs|-bounded allocation relation
    * broadcasts back over the scan. Output: the allocation card plus
    * what the selection actually admitted.
    *
    * Degenerate + domain bounds: mass = Σ N_h·S_h is 0 when EVERY
    * stratum has zero integer length-variance (a constant-length
    * corpus) — the GREATEST(mass, 1) floor in both spellings keeps the
    * division defined and allocates 0 everywhere (nothing admitted,
    * the honest answer) instead of Spark NULLing while DuckDB raises.
    * Int64 bound (the geoGyration posture): n_docs·sxx must stay under
    * 2⁶³ — with n_chars ≤ 2¹⁴ that holds to ~3.4e10 docs per stratum;
    * a heavier corpus rescales lengths or lifts the moments to DECIMAL
    * first. */
  def curateNeymanSample(spark: SparkSession, sfDir: String): DataFrame = {
    val d = graft.core.QueryCaches.track(
      load(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          pmod(fingerprint(col("text")), lit(1000000L)).as("h")))
    val s = d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sxx"))
      .select(col("lang"), col("n_docs"),
        expr("CAST(floor(sqrt((n_docs * sxx - sx * sx) div (n_docs * n_docs)))" +
          " AS BIGINT)").as("s_int"))
    val tot = s.agg(sum(col("n_docs")).as("n_total"),
      sum(col("n_docs") * col("s_int")).as("mass"))
    val alloc = s.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("s_int"),
        expr("((n_total div 10) * n_docs * s_int) div " +
          "greatest(mass, CAST(1 AS BIGINT))").as("alloc"))
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    d.withColumn("rk", row_number().over(w))
      .join(broadcast(alloc), Seq("lang"))
      .filter(col("rk") <= col("alloc"))
      .groupBy(col("lang"), col("n_docs"), col("s_int"), col("alloc"))
      .agg(count(lit(1)).as("n_picked"), sum(col("n_chars")).as("picked_chars"))
  }

  /** Inverted-index construction (the search-infrastructure operator):
    * per term, document frequency, collection frequency, and a BOUNDED
    * posting-list preview (first 10 doc_ids ascending, comma-joined).
    * The cap is enforced BEFORE any collect: distinct (term, doc_id)
    * postings are ranked per term and trimmed via the rank filter that
    * plans as a partial WindowGroupLimit (map tasks ship ≤ 10 rows per
    * term — a stopword's million-doc posting list never crosses the
    * exchange, the same guard as curate_domain_cap), then the ≤
    * 10-element groups collect in-row. df/cf ride a separate
    * aggregate of the same exploded relation — count states, not
    * lists, so the unbounded side of the index is aggregate-shaped.
    * Real index builds shard full postings to files per term range;
    * the preview column is what an audit/gate query would keep. */
  def textInvertedIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = graft.core.QueryCaches.track(
      load(spark, sfDir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("term")))
    val stats = toks.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("cf"))
    val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    val top = toks.select(col("term"), col("doc_id")).distinct()
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .groupBy(col("term"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(col("term"),
        concat_ws(",", transform(col("ids"), v => v.cast("string"))).as("postings"))
    stats.join(top, Seq("term"))
      .select(col("term"), col("df"), col("cf"), col("postings"))
  }

  /** Within-document n-gram repetition — the boilerplate/spam signal
    * (listing pages, keyword stuffing, templated chrome repeat the same
    * shingles): rep_ratio = 1 − |distinct 3-gram fps| / |3-gram fps|.
    * Reuses the dedup pillar's shingle-fingerprint kernel
    * ([[graft.ext.DedupOps.shingleFps]]); the two-step projection keeps
    * the kernel evaluated ONCE per row (CollapseProject does not inline
    * a non-cheap expression referenced three times). Docs shorter than
    * one shingle are excluded (no denominator). Pure per-row column
    * work — runs inside the scan projection at any corpus size. */
  def textRepetition(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.ext.DedupOps.shingleFps(tokens(col("text")), 3).as("fps"))
      .select(col("doc_id"),
        size(col("fps")).cast("bigint").as("n_grams"),
        size(array_distinct(col("fps"))).cast("bigint").as("n_distinct"),
        (lit(1.0) - size(array_distinct(col("fps"))).cast("bigint") /
          size(col("fps")).cast("bigint")).as("rep_ratio"))
      .filter(col("n_grams") > 0)

  /** Train/test decontamination — the eval-leak scan every pretraining
    * pipeline runs before training: flag corpus documents sharing any
    * 5-gram with the benchmark set (here: every 97th document stands in
    * for the held-out evals). Plan shape at 100 TB: the benchmark's
    * distinct gram fingerprints are SMALL (evals are thousands of docs,
    * not billions) — broadcast them; the corpus is scanned once, each
    * doc's distinct grams probe the broadcast hash relation, and a
    * per-doc hash aggregate counts hits. No corpus-side shuffle except
    * the (contaminated-docs-only) aggregation. Output: doc_id × number
    * of leaked grams (benchmark members flag themselves — the caller
    * drops `doc_id % 97 = 0` rows or joins them out). */
  def curateDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(array_distinct(
        graft.ext.DedupOps.shingleFps(tokens(col("text")), 5))).as("fp"))
    val bench = grams(d.filter(col("doc_id") % 97 === 0)).select(col("fp")).distinct()
    grams(d).join(broadcast(bench), "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Cross-source 5-gram containment heatmap — the provenance
    * contamination matrix ([[graft.queries.MultimodalQueries]]
    * mm_chunk_overlap's text twin at SOURCE granularity): for every
    * ordered source pair, the share of a's distinct 5-gram
    * fingerprints that also appear in b. The number a release reads to
    * find mirror crawls, syndication rings, and benchmark bleed BEFORE
    * per-document dedup runs. Scale: the corpus collapses to the
    * DISTINCT (source, fp) relation in one explode+distinct pass
    * (persisted once, both join sides); the fp-keyed self-join's
    * fan-out is bounded by per-fp source-df ≤ |sources|; output is
    * |sources|² max. All-integer milli containment. */
  def curateSourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val g = graft.core.QueryCaches.track(
      load(spark, sfDir, "documents")
        .select(col("source"), explode(array_distinct(
          graft.ext.DedupOps.shingleFps(tokens(col("text")), 5))).as("fp"))
        .distinct())
    val tot = g.groupBy(col("source").as("src_a")).agg(count(lit(1)).as("n_a"))
    g.select(col("source").as("src_a"), col("fp"))
      .join(g.select(col("source").as("src_b"), col("fp")), Seq("fp"))
      .filter(col("src_a") =!= col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_shared"))
      .join(tot, Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
        expr("(1000 * n_shared) div n_a").as("containment_milli"))
  }

  /** Lexicon blocklist screen — the fixed-list content filter every
    * curation stack runs first (toxicity/NSFW/spam lexicons are this
    * op with a bigger list): per source, the document count, how many
    * documents contain ANY blocklist token, the flag rate in milli,
    * and total hit occurrences. Pure scan work — the lexicon lives in
    * the predicate, a bigger list is a broadcast join against the
    * exploded tokens (the curate_decontaminate shape); zero shuffles
    * beyond the |sources|-group fold. */
  def curateBlocklist(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents")
      .select(col("source"),
        expr("CAST(size(filter(" +
          "filter(split(text, ' '), t -> t != ''), " +
          "t -> t IN ('data', 'casino', 'spam'))) AS BIGINT)").as("hits"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0L, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("hits")).as("n_hits"))
      .select(col("source"), col("n_docs"), col("n_flagged"), col("n_hits"),
        expr("(1000 * n_flagged) div n_docs").as("flag_rate_milli"))

  /** TF-IDF keyword extraction — the per-document salient-term view
    * search/curation pipelines build over any corpus: term frequency
    * per (doc, token), document frequency per token, rarity weight
    * N/df, top-3 terms per document. The idf is the RATIONAL form
    * (tf · N / df, no logarithm): ln() is not bit-reproducible across
    * engines/libms, while integer-valued doubles and one division are
    * IEEE-exact — which is what makes the ranking oracle-hashable.
    * Plan shape at 100 TB: explode shuffles (doc, token) pairs once
    * with map-side combine; df is a vocab-sized aggregate of that
    * table (not a second corpus scan); N is a 1-row broadcast; the
    * rank exchange carries only (doc × distinct-token) rows. */
  /** BM25 retrieval (k1 = 1.2, b = 0.75): top-5 docs for each of three
    * fixed keyword queries. One corpus pass builds the (doc, token) tf
    * table (computed-once persisted, shared by the df branch); the
    * 7-row query-term table is BROADCAST so only matching terms'
    * postings survive the join — the plan never materializes scores
    * for non-query terms. Cross-engine determinism: `ln` differs from
    * DuckDB's by 1 ulp on ~0.1% of inputs (measured 25/20k), so the
    * idf is rounded through DECIMAL(38,6) immediately after the log —
    * both engines collapse to the same 6-dp value (verified 0/20k
    * mismatches post-rounding); every other factor is single-order
    * IEEE arithmetic on exact integers, and the per-(query, doc) sum
    * rides [[Tables.dsum]]. Fractional literals are CAST(… AS DOUBLE)
    * in the oracle because bare decimals parse as DECIMAL there.
    * At 100 TB the same plan holds: the query set stays broadcast-
    * small, tf/df are one shuffle each, top-k is a WindowGroupLimit
    * partial. */
  def textBm25(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docsT = load(spark, sfDir, "documents")
    val qterms = Seq((1L, "spark"), (1L, "join"), (2L, "hash"), (2L, "table"),
      (3L, "stream"), (3L, "batch"), (3L, "window")).toDF("query_id", "token")
    val tf = graft.core.QueryCaches.track(
      docsT.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf")))
    val dl = docsT.select(col("doc_id"), tokenCount(col("text")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val qtf = tf.join(broadcast(qterms), "token")
    val dfreq = tf.join(broadcast(qterms.select("token").distinct()), "token")
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val avgdl = col("total_dl").cast("double") / col("n_docs")
    val idf6 = log(((col("n_docs") - col("df")) + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
      .cast(org.apache.spark.sql.types.DecimalType(38, 6)).cast("double")
    val tfnorm = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / avgdl)))
    qtf.join(broadcast(dfreq), "token").join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("contrib", idf6 * tfnorm)
      .groupBy(col("query_id"), col("doc_id")).agg(dsum(col("contrib")).as("score"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))).cast("bigint"))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("doc_id"), col("score"))
  }

  /** Bigram language-model quality score (the CCNet/KenLM-shaped
    * perplexity filter, in mean-probability form): train add-1-smoothed
    * bigram probabilities p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V) on the
    * corpus itself, score each doc by the MEAN probability of its
    * bigrams, and flag the low tail as atypical text. Mean-prob rather
    * than mean-log-prob keeps every step portable IEEE arithmetic
    * (each p is one division of exact integers; the per-doc mean rides
    * [[Tables.davg]]) — log is monotone, so the flagged tail is the
    * same set perplexity would flag, without importing `ln` ulp drift.
    * Scale shape: the bigram-count (≤V²) and unigram-count (V) model
    * tables BROADCAST — the corpus makes ONE pass through two
    * broadcast lookups plus the per-doc aggregate; only the model
    * training groupBys shuffle, and those shuffle counts, not text. */
  def textNgramLm(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
    val tk = docTokens(d)
    val uni = graft.core.QueryCaches.track(unigramCounts(tk))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bi = tk.select(col("doc_id"), explode(expr(
        "CASE WHEN size(tk) >= 2 THEN transform(sequence(0, size(tk) - 2), " +
          "i -> struct(tk[i] AS w1, tk[i + 1] AS w2)) ELSE array() END")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    bi.join(broadcast(c2), Seq("w1", "w2"))
      .join(broadcast(uni.select(col("w").as("w1"), col("c1"))), "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("p", (col("c2") + lit(1)).cast("double") / (col("c1") + col("v")).cast("double"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), davg(col("p")).as("avg_p"))
      .withColumn("flagged", col("avg_p") < lit(0.0315))
  }

  /** Curriculum materialization: the global training ORDER a data
    * loader streams — quality band first (marker-stopword count,
    * capped at 3 — all-integer, no float score), content-hash shuffle
    * WITHIN each band (deterministic, seedless, reshuffle = change
    * one literal), doc_id as the total-order tiebreak. The global
    * position comes from [[graft.ext.SkewOps.globalRank]]
    * (repartitionByRange + count scan, two jobs) — the oracle
    * spells the single global row_number window the plan exists to
    * avoid: at 100 TB a `row_number() OVER (ORDER BY …)` serializes
    * the corpus through one task; range-partitioned rank scales with
    * the cluster. */
  def curateCurriculum(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
    val toks = tokens(col("text"))
    val base = d.select(col("doc_id"),
        least(TextOps.wordCount(toks, Seq("the", "a", "data", "table")), lit(3L)).as("band"),
        pmod(fingerprint(col("text")), lit(1000000L)).as("h"),
        tokenCount(col("text")).as("n_tokens"))
      .withColumn("band_ord", lit(3L) - col("band"))
    graft.ext.SkewOps.globalRank(base, Seq("band_ord", "h", "doc_id"), "pos")
      .select(col("pos"), col("doc_id"), col("band"), col("n_tokens"))
  }

  def textTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = load(spark, sfDir, "documents")
    // computed-once persisted tf table (the simhashPairs signature-table
    // pattern): without it the df branch re-explodes the corpus —
    // Catalyst prunes the count from that branch's partial aggregate,
    // so the subtrees differ and AQE exchange reuse can never kick in.
    // Query-scoped: the harness releases it after the terminal action.
    val tf = graft.core.QueryCaches.track(
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "token").crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("token"))).cast("bigint"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("token"), col("tf"), col("df"), col("tfidf"))
  }

  /** Per-source corpus mix report — the domain-mix dashboard every
    * pretraining pipeline tracks per crawl/source: doc count, token
    * volume, decimal-exact mean quality, and the exact-duplicate ratio
    * (1 − distinct fingerprints / docs). One scan with all scoring in
    * the projection, one hash aggregation keyed by (source, fp) for the
    * distinct count, one rollup by source — the same two-aggregation
    * shape as [[curatePipeline]], grouped by provenance instead of
    * language. */
  def curateSources(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
    val scored = d.select(col("source"),
      tokenCount(col("text")).as("n_tokens"),
      qualityScore.as("quality"),
      fingerprint(col("text")).as("fp"))
    // single hash aggregate keyed by source; COUNT(DISTINCT fp) is the
    // exact form to match the oracle (the 100 TB variant is the HLL
    // sketch, same trade as eventsDailyActiveApprox); mean quality via
    // the decimal-exact davg so the fold is association-proof
    scored.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("fp")).as("n_distinct"),
      sum(col("n_tokens")).as("sum_tokens"),
      Tables.davg(col("quality")).as("mean_quality"),
      (lit(1.0) - countDistinct(col("fp")).cast("double") / count(lit(1))).as("dup_ratio"))
  }

  /** Token-budget sequence sharding — the packing step training-data
    * loaders run after curation: per (language, range-shard) the
    * documents are concatenated in doc_id order and split at 2048-token
    * offsets; each doc's shard is the bin its STARTING offset falls in
    * (cum − n_tokens) div budget — the deterministic offset-sharding
    * form of sequence packing. The cumulative sum runs per
    * (lang, doc_id div 2000) shard, NOT per language: a per-language
    * window would serialize each language onto one partition at 100 TB,
    * while range shards stay bounded (≤2000 docs) at any corpus size
    * and every shard's packing is independent. Output: per-bin doc
    * count, token fill, and first doc — the loader's shard manifest. */
  def curatePack(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), expr("doc_id div 2000").as("shard"),
        tokenCount(col("text")).as("n_tokens"))
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr("(cum - n_tokens) div 2048"))
      .groupBy(col("lang"), col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"))
  }

  /** Per-document NOVELTY contribution — the marginal-value metric a
    * corpus curator ranks ingestion batches by: of a document's
    * distinct 5-gram shingles, what fraction appears in NO
    * earlier-id document (first occurrence = min(doc_id) per gram —
    * the deterministic arrival order of the corpus). Dedup asks "is
    * this a copy"; novelty asks the graded complement "how much new
    * n-gram mass does this doc add", which is the admission score
    * incremental-crawl pipelines use before paying to keep a page.
    * Plan at 100 TB: the (doc, fp) gram relation is computed once and
    * persisted query-scoped (both the first-occurrence aggregate and
    * the join probe read it); first-occurrence is one map-side-
    * combined MIN per fp; the re-join is an fp-keyed SHUFFLE join
    * (the frequency side is corpus-sized — never a broadcast); all
    * exchanges carry (long, long) rows. Zero-gram docs drop out of
    * the output on both engines, so the milli ratio never divides by
    * zero (ANSI-safe). */
  def curateNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = graft.core.QueryCaches.track(docFiveGrams(spark, sfDir))
    val first = grams.groupBy(col("fp")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_milli", expr("(1000 * n_novel) div n_grams"))
  }

  /** Cross-document boilerplate detection — the line/paragraph-dedup
    * analog for a corpus without line structure: per document, the
    * fraction of its distinct 5-gram shingles that appear in at least
    * one OTHER document (shared navigation chrome, templates, licence
    * headers — the spans C4/RefinedWeb-style pipelines strip before
    * training). Unlike [[curateDecontaminate]] the frequency side is
    * the WHOLE corpus, so the gram table is corpus-sized and the
    * df-join is a fp-keyed shuffle join, never a broadcast. Plan at
    * 100 TB: one scan explodes distinct per-doc gram fingerprints
    * (fixed-width longs), one map-side-combined aggregate builds df,
    * one equi-join + per-doc aggregate — all exchanges carry (long,
    * long) rows, no text. The gram table is computed once and persisted
    * (query-scoped) because both the df branch and the join probe it. */
  def curateBoilerplate(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = graft.core.QueryCaches.track(docFiveGrams(spark, sfDir))
    val dfreq = grams.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    grams.join(dfreq, "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_ratio",
        col("n_shared").cast("double") / col("n_grams"))
  }

  /** Cross-document LINE-level boilerplate REMOVAL — the CCNet/
    * RefinedWeb line-dedup: drop every line that repeats across ≥5
    * documents (navigation chrome, licence headers, templated
    * footers) and REBUILD each document from its surviving lines in
    * position order. The synthetic corpus has no newlines, so lines
    * are constructed deterministically — a planted per-source 5-token
    * nav header (the [[textRedact]] plant pattern: a green row must
    * prove something was actually removed) followed by consecutive
    * 5-token chunks of the content. Plan at 100 TB: one corpus scan
    * explodes (doc_id, line_no, line, line_fp); the line relation is
    * persisted query-scoped because both the df aggregate and the
    * join probe read it; df counts DISTINCT documents per line_fp
    * (a line repeated within one doc is not boilerplate); the df-join
    * is an fp-keyed SHUFFLE join (the frequency side is corpus-sized
    * — same call as [[curateBoilerplate]], never a broadcast); the
    * rebuild is one per-doc hash aggregate whose array_sort puts
    * surviving lines back in position order — no window, nothing
    * single-partition. Output: per-doc line counts and the rebuilt
    * text's fingerprint (proving byte-exact reassembly cross-engine). */
  def curateLineDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
    val lines = docLines(d)
    val dfreq = lines.groupBy(col("lfp"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val rebuilt = lines.join(dfreq, "lfp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("df") >= 5, 1L).otherwise(0L)).as("dropped_lines"),
        // collect_list skips the nulls the `when` leaves for dropped
        // lines; array_sort orders the (line_no, line) structs by
        // line_no — the pos-ordered rebuild without any Window
        array_join(transform(
          array_sort(collect_list(when(col("df") < 5,
            struct(col("line_no"), col("line"))))),
          s => s.getField("line")), " ").as("kept_text"))
    // empty-rebuild guard: the Spark kernel folds "" to 0 while
    // DuckDB's string_split('','') yields [''] (unicode −1) — pin the
    // all-lines-dropped case to 0 explicitly on both sides
    rebuilt.select(col("doc_id"), col("n_lines"),
      (col("n_lines") - col("dropped_lines")).as("kept_lines"),
      col("dropped_lines"),
      when(length(col("kept_text")) === 0, 0L)
        .otherwise(fingerprint(col("kept_text"))).as("new_fp"))
  }

  /** Deterministic train/val/test split manifest — the LAST step of a
    * curation pipeline: assign each document to a split by content
    * hash (fp mod 100 → train < 90 ≤ val < 95 ≤ test), report per
    * (split, language) doc and token counts. Content-keyed splitting
    * is the reproducibility contract eval pipelines depend on: no RNG
    * state, stable under retries and re-partitioning, any two engines
    * agree, and an exact duplicate can never straddle train and test
    * (the leak [[curateDecontaminate]] hunts) because identical text
    * hashes identically. One scan, all hashing in the projection, one
    * hash aggregate — nothing here changes shape at any corpus size. */
  def curateSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
    val h = pmod(fingerprint(col("text")), lit(100L))
    d.select(col("lang"), tokenCount(col("text")).as("n_tokens"),
        when(h < 90, "train").when(h < 95, "val").otherwise("test").as("split"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
  }

  /** Hashed-n-gram importance scoring — data selection via importance
    * resampling (DSIR; Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): score every raw document by
    * how target-like its hashed-bigram distribution is, here with
    * lang='en' as the target domain. The likelihood ratio is
    * integer-quantized so both engines agree bit-for-bit: per bucket
    * b (bigram fp mod 512), w_b = (t_cnt+1)·10^6 div (r_cnt+1) — the
    * add-one-smoothed target/raw count ratio at 1e-6 resolution, with
    * the corpus-total normalization folded into the selection
    * threshold (mean bucket weight) rather than each w_b, keeping
    * every product inside int64 headroom (w ≤ 10^6·(t+1); at trillion-
    * bigram scale move the 10^6 scale to DECIMAL(38,0)). A doc is
    * selected when its mean bigram weight beats the corpus mean —
    * score > n·mean_w, an all-integer comparison. Plan: ONE exploded
    * (doc, lang, bucket) relation feeds both the distribution
    * aggregate (512-key shuffle, map-side combined) and the scoring
    * aggregate; the 512-row weight table and the scalar threshold are
    * broadcast, so scoring adds no shuffle beyond the per-doc
    * aggregate. The explode is persisted query-scoped because two
    * branches read it; at 100 TB you would instead estimate the
    * distribution from a sample (it converges at ~10^6 docs) and scan
    * the corpus once. */
  def curateDsir(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
    val grams = graft.core.QueryCaches.track(bigramBuckets(d, "text"))
    val (w, meanW) = dsirWeights(grams)
    grams.join(broadcast(w), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("w")).as("score"))
      .crossJoin(broadcast(meanW))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("score"),
        when(col("score") > col("n_bigrams") * col("mean_w"), 1L).otherwise(0L)
          .as("selected"))
  }

  /** The END-TO-END curation run — every pipeline stage this module
    * ships, composed under ONE hash: cross-document line dedup
    * ([[curateLineDedup]]'s rebuild), a token-count quality gate,
    * DSIR importance selection ([[curateDsir]]'s quantized ratio,
    * recomputed over the REBUILT corpus — selection must see the text
    * that survives cleaning, not the raw text), and the content-hash
    * split manifest ([[curateSplit]]). A green row here proves the
    * stages COMPOSE: every intermediate (rebuilt text, bucket
    * distributions, thresholds, split hashes) feeds the next stage
    * bit-exactly in both engines. Plan: three query-scoped persists —
    * the line relation (df aggregate + rebuild), the gated corpus
    * (distribution + scoring + manifest), the gram relation
    * (distribution + scoring) — every join is either fp/doc-keyed
    * shuffle (corpus-sized, fixed-width keys) or broadcast (512-row
    * weights, 1-row threshold); no stage adds a shape the standalone
    * queries don't already carry at scale. */
  def curateE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
    val lines = docLines(d)
    val dfreq = lines.groupBy(col("lfp")).agg(countDistinct(col("doc_id")).as("df"))
    val rebuilt = lines.join(dfreq, "lfp").groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(when(col("df") < 5,
          struct(col("line_no"), col("line"))))),
        s => s.getField("line")), " ").as("kept_text"))
    val gated = graft.core.QueryCaches.track(
      rebuilt.join(d.select(col("doc_id"), col("lang")), "doc_id")
        .filter(tokenCount(col("kept_text")) >= 10))
    val grams = graft.core.QueryCaches.track(bigramBuckets(gated, "kept_text"))
    val (w, meanW) = dsirWeights(grams)
    val sc = grams.join(broadcast(w), "b").groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("w")).as("score"))
    val sel = gated.join(sc, "doc_id").crossJoin(broadcast(meanW))
      .filter(col("score") > col("n_bigrams") * col("mean_w"))
    val h = pmod(fingerprint(col("kept_text")), lit(100L))
    sel.select(col("lang"), tokenCount(col("kept_text")).as("n_tokens"),
        when(h < 90, "train").when(h < 95, "val").otherwise("test").as("split"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
  }

  /** Target-mix rebalancing — the step BEFORE [[curateSample]]: given a
    * target token share per language (en 20%, others 10% — flatter than
    * the corpus), derive each language's admission rate from its actual
    * token volume, then hash-sample at that rate and report the
    * achieved mix. The rate is ALL-INTEGER — floor(share·total/actual),
    * capped at 100 — so both engines agree exactly (no float division
    * feeding a comparison). Plan at 100 TB: one scan projects (lang,
    * n_tokens, content hash) — persisted query-scoped because both the
    * stats branch and the sampling filter read it; per-language volumes
    * are a map-side-combined aggregate; the rate table is |langs| rows
    * (broadcast); the admission filter + achieved-mix rollup is one
    * more hash aggregate. Content-keyed hash sampling keeps the
    * admission reproducible under retries and repartitioning. */
  def curateMix(spark: SparkSession, sfDir: String): DataFrame = {
    val d = graft.core.QueryCaches.track(
      load(spark, sfDir, "documents").select(col("doc_id"), col("lang"),
        tokenCount(col("text")).as("n_tokens"),
        pmod(fingerprint(col("text")), lit(100L)).as("h")))
    val stats = d.groupBy(col("lang")).agg(sum(col("n_tokens")).as("a_tokens"))
    val total = stats.agg(sum(col("a_tokens")).as("t_tokens"))
    val rates = stats.crossJoin(broadcast(total))
      .withColumn("share", when(col("lang") === "en", 20L).otherwise(10L))
      .selectExpr("lang AS r_lang", "a_tokens",
        "least(CAST(100 AS BIGINT), (share * t_tokens) div a_tokens) AS rate_pct")
    d.join(broadcast(rates), col("lang") === col("r_lang"))
      .filter(col("h") < col("rate_pct"))
      .groupBy(col("lang"))
      .agg(min(col("rate_pct")).as("rate_pct"), min(col("a_tokens")).as("a_tokens"),
        count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("kept_tokens"))
  }

  /** Per-domain admission cap under the oracle gate —
    * [[graft.ext.TextOps.perDomainCap]]: keep the 10 longest docs per
    * source (n_chars DESC, doc_id tiebreak), report each kept doc with
    * its rank and its domain's total count. Complements [[curateMix]]
    * (rate-based sampling) with the CAP-based guard real crawls need —
    * a single hot host must not dominate the mix no matter its volume.
    * Scale: the rank filter plans as WindowGroupLimit (map-side top-k
    * per domain BEFORE the exchange, PlanSpec-pinned); the per-domain
    * totals are a map-side-combined aggregate whose |domains| rows
    * broadcast back onto the capped survivors. */
  def curateDomainCap(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
    val kept = graft.ext.TextOps.perDomainCap(
      d.select(col("doc_id"), col("source"), col("n_chars")),
      "source", 10, Seq(col("n_chars").desc, col("doc_id").asc))
    val totals = d.groupBy(col("source")).agg(count(lit(1)).as("n_source"))
    kept.join(broadcast(totals), Seq("source"))
      .select(col("doc_id"), col("source"), col("rk"), col("n_source"))
  }

  /** GOPHER quality-rule bundle (Rae et al. 2021, Table A1 — the
    * public heuristic suite every big English corpus run applies
    * before model-based filtering): per document,
    *   1. word count in [50, 100 000];
    *   2. mean word length in [3, 10] — spelled CROSS-MULTIPLIED
    *      (3·n ≤ Σlen ≤ 10·n), all-integer, so the bound can't flip on
    *      a division ulp;
    *   3. ≥ 2 stopword hits;
    *   4. duplicate-line fraction ≤ 0.30 (5-token pseudo-lines — the
    *      corpus has no newlines; 10·dup ≤ 3·n_lines). Computed IN-ROW
    *      (size − size∘distinct), quiet on this synthetic corpus —
    *      GopherSpec exercises it with a planted degenerate doc;
    *   5. most-common-bigram token share ≤ 0.20 (2·mode/n ≤ 0.2 ⇔
    *      10·mode ≤ n) — the mode count via the native linear
    *      [[graft.functions.HashExprs.modalNgramCount]] kernel, which
    *      the oracle's QUADRATIC distinct×filter spelling proves exact.
    * Every signal is a per-row expression: the whole query is ONE scan
    * with ZERO joins and ZERO shuffles (PlanSpec-pinned) — at 100 TB
    * the rule bundle runs at scan speed, embarrassingly parallel, and
    * adding a rule adds a column, not a pass (the QualityOps contract
    * applied to text heuristics). 276/500 docs pass at sf0.01 with
    * every computed rule band exercised. */
  def curateGopher(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
    val base = d.select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("bigint").as("n_words"),
        aggregate(transform(col("tk"), t => length(t).cast("bigint")),
          lit(0L), (a, b) => a + b).as("sum_word_chars"),
        size(filter(col("tk"), t => t.isin("the", "a", "data", "table")))
          .cast("bigint").as("stop_hits"),
        transform(sequence(lit(0), ((size(col("tk")) - 1) / 5).cast("int")),
          i => array_join(slice(col("tk"), i * lit(5) + lit(1), lit(5)), " ")).as("lines"),
        graft.functions.HashExprs.modalNgramCount(col("tk"), 2).as("max_bigram"))
    base.select(col("doc_id"), col("n_words"), col("sum_word_chars"),
        col("stop_hits"),
        size(col("lines")).cast("bigint").as("n_lines"),
        (size(col("lines")) - size(array_distinct(col("lines"))))
          .cast("bigint").as("dup_lines"),
        col("max_bigram"))
      .withColumn("ok_count", col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("ok_mwl",
        lit(3L) * col("n_words") <= col("sum_word_chars") &&
          col("sum_word_chars") <= lit(10L) * col("n_words"))
      .withColumn("ok_stop", col("stop_hits") >= 2)
      .withColumn("ok_dupline", lit(10L) * col("dup_lines") <= lit(3L) * col("n_lines"))
      .withColumn("ok_bigram", lit(10L) * col("max_bigram") <= col("n_words"))
      .withColumn("pass", col("ok_count") && col("ok_mwl") && col("ok_stop") &&
        col("ok_dupline") && col("ok_bigram"))
  }

  /** ONE BPE tokenizer-training merge step at corpus scale (Sennrich
    * et al. 2016's trick made distributed): the corpus collapses to
    * its DISTINCT-WORD vocab weighted by occurrence counts in one
    * wordcount scan — every subsequent merge iteration is vocab-sized
    * work, never corpus-sized. The step: spell each vocab word as
    * spaced symbols, count adjacent symbol pairs weighted by word
    * count (map-side-combined), pick the modal pair (count desc, pair
    * asc — a 1-row TakeOrdered broadcast), and emit every word's
    * POST-MERGE representation (left-to-right non-overlapping
    * `replace`, identical semantics both engines). The top pair on
    * this corpus is "e r" — the classic first English BPE merge. A
    * production trainer loops this exact step (the [[graft.ext
    * .SimOps.kmeans]]-vs-`sim_kmeans` pattern: the declared query IS
    * one iteration, the loop is library composition); `new_rep`
    * feeding the next round is what makes the hash gate meaningful —
    * it checks the merge APPLICATION, not just the argmax. */
  def textBpeMergeStep(spark: SparkSession, sfDir: String): DataFrame = {
    val words = graft.core.QueryCaches.track(
      load(spark, sfDir, "documents")
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt")))
    val chars = split(col("w"), "")
    val spaced = words.withColumn("rep", array_join(chars, " "))
    // zip(chars[0..n-2], chars[1..n-1]) — empty for 1-char words
    // (sequence(1, n-1) would step BACKWARD for n = 1 and trip ANSI)
    val pairsArr = zip_with(
      slice(chars, lit(1), size(chars) - 1), slice(chars, lit(2), size(chars) - 1),
      (a, b) => concat(a, lit(" "), b))
    val top = spaced.select(col("cnt"), explode(pairsArr).as("pair"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("pcount"))
      .orderBy(col("pcount").desc, col("pair").asc).limit(1)
      .select(col("pair").as("merged_pair"), col("pcount"))
    spaced.crossJoin(broadcast(top))
      .select(col("w"), col("cnt"), col("merged_pair"), col("pcount"),
        expr("replace(rep, merged_pair, replace(merged_pair, ' ', ''))").as("new_rep"))
  }

  /** FULL BPE training run — the loop composition of
    * [[textBpeMergeStep]] through [[graft.ext.TextOps.bpeTrain]]
    * (6 merges on the corpus vocab), declared so the TRAINED ARTIFACT
    * is oracle-gated, not just one iteration: the output is the merge
    * table (step, merged_pair, pcount) plus the post-merge FERTILITY
    * curve (1000·Σ cnt·|symbols| div Σ cnt — the composed property the
    * single-step row can't see: each round's replace must be applied
    * correctly for round k+1's pair counts AND the symbol counts to
    * come out right). The oracle is the same loop UNROLLED into 6
    * chained CTL rounds (MATERIALIZED — each round is referenced by
    * the next round's pair count, the rewrite, and the fertility
    * fold). First merges on this corpus: "e r", "i n", "o w" — and
    * then the first COMPOSED merge "m er", which only exists if round
    * 1's rewrite actually fused "e r". */
  def textBpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.TextOps.bpeTrain(load(spark, sfDir, "documents"), "text", 6)

  /** The trained tokenizer APPLIED — "load model, tokenize corpus":
    * the 6-merge table from [[graft.ext.TextOps.bpeTrain]] (collected
    * driver-side — it IS the model, 6 rows) is replayed over the vocab
    * as 6 chained `replace` projections (Catalyst collapses them into
    * ONE projection — a fixed-depth expression, not a loop at
    * execution time), and the resulting subword stream is ranked:
    * top-20 subword tokens by weighted frequency. This is the
    * composed property the merge table alone can't pin: the APPLIED
    * segmentation must produce exactly the vocabulary the oracle's
    * replayed chain produces. Scale: one corpus wordcount feeds both
    * training and application; everything downstream is vocab-sized;
    * the top-20 is a partial rank over the bounded subword domain. */
  def textBpeApply(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = load(spark, sfDir, "documents")
    // ONE corpus scan: the round-0 char-level vocab (cnt, rep) is
    // localCheckpoint'ed once and shared by training
    // (bpeTrainFromReps) and the application replay below — previously
    // each side ran its own corpus scan + wordcount shuffle. The
    // checkpoint (not a persist of the wordcount) keeps the round-0
    // partitioning AQE-coalesced — see bpeTrainFromReps's scaladoc for
    // the measured persisted-wordcount rejection. Registered with
    // QueryCaches: its blocks back the returned plan's lineage until
    // the query's terminal action.
    val reps0 = graft.core.QueryCaches.checkpoint(
      docs.select(explode(tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .select(col("cnt"), array_join(split(col("w"), ""), " ").as("rep")))
    val merges = graft.ext.TextOps.bpeTrainFromReps(reps0, 6)
      .orderBy(col("step")).collect().map(_.getString(1)).toSeq
    var reps = reps0
    merges.foreach { p =>
      reps = reps.select(col("cnt"),
        call_function("replace", col("rep"), lit(p),
          lit(p.replace(" ", ""))).as("rep"))
    }
    // rank-filter on the UNCAST row_number (the qHeavyHitters idiom:
    // the partial top-k rewrite must see the raw rank), cast after
    reps.select(col("cnt"), explode(tokens(col("rep"))).as("tok"))
      .groupBy(col("tok")).agg(sum(col("cnt")).as("n"))
      .withColumn("rk0", row_number().over(
        Window.orderBy(col("n").desc, col("tok"))))
      .filter(col("rk0") <= 20)
      .select(col("rk0").cast("bigint").as("rk"), col("tok"), col("n"))
  }

  /** HELD-OUT BPE application — the number a tokenizer team actually
    * ships on: the merge table is trained on HALF the corpus (even
    * doc_ids) and evaluated on text it has never seen (odd doc_ids).
    * Output: per merge step 0..6, the train-side and held-out
    * fertility curves (1000·Σ cnt·|symbols| div Σ cnt — step 0 is the
    * character-level baseline) side by side, plus the held-out OOV
    * readout (character types absent from the training corpus, and
    * their occurrence mass in ppm of all held-out characters — with a
    * character-level base vocab, merges can never mint new symbols,
    * so unseen CHARACTERS are the only true OOV). A held-out curve
    * that tracks the train curve is the generalization signal; a gap
    * is tokenizer overfit. Plan: train side is [[graft.ext.TextOps
    * .bpeTrain]] (one corpus scan, vocab-sized rounds); the held-out
    * side applies all 6 merges as ONE collapsed projection computing
    * the 7 per-step symbol-count folds in a single vocab-sized
    * aggregate (no per-step pass); OOV is a char-domain anti-join.
    * Driver materializations are all 1-row/6-row scalar syncs. The
    * oracle replays the identical unrolled chain on the even half and
    * the identical 6 replace stages + folds on the odd half. */
  def textBpeHeldout(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docsAll = load(spark, sfDir, "documents")
    def wordcount(df: DataFrame) =
      df.select(explode(tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    // ONE scan of the train half: the persisted train-side wordcount
    // feeds bpeTrainFromWords AND the fold/OOV stages below (previously
    // bpeTrain re-scanned the even half for its own wordcount).
    val tw = graft.core.QueryCaches.track(wordcount(docsAll.filter(col("doc_id") % 2 === 0)))
    val hw = graft.core.QueryCaches.track(wordcount(docsAll.filter(col("doc_id") % 2 === 1)))
    val mergeRows = graft.ext.TextOps.bpeTrainFromWords(tw, 6)
      .orderBy(col("step")).collect()
    val pairs = mergeRows.map(_.getString(1)).toSeq
    val trainFerts = mergeRows.map(r => r.getLong(0) -> r.getLong(3)).toMap
    val base = array_join(split(col("w"), ""), " ")
    // rep after k merges, k = 0..6, as one collapsed projection chain
    val reps: Seq[org.apache.spark.sql.Column] = pairs.scanLeft(base)((r, p) =>
      call_function("replace", r, lit(p), lit(p.replace(" ", ""))))
    val symCols = reps.zipWithIndex.map { case (r, k) =>
      sum(col("cnt") * size(split(r, " "))).as(s"m$k") }
    val hAgg = hw.agg(symCols.head, symCols.tail :+ sum(col("cnt")).as("tot"): _*).head()
    val hTot = hAgg.getAs[Long]("tot")
    val hFerts = reps.indices.map(k => 1000L * hAgg.getAs[Long](s"m$k") / hTot)
    val tAgg = tw.agg(sum(col("cnt") * size(split(base, " "))).as("m0"),
      sum(col("cnt")).as("tot")).head()
    val f0Train = 1000L * tAgg.getAs[Long]("m0") / tAgg.getAs[Long]("tot")
    val tChars = tw.select(explode(split(col("w"), "")).as("c")).distinct()
    val hChars = hw.select(explode(split(col("w"), "")).as("c"), col("cnt"))
      .groupBy(col("c")).agg(sum(col("cnt")).as("mass"))
    val oovRow = hChars.join(tChars, Seq("c"), "left_anti")
      .agg(count(lit(1)).as("types"),
        coalesce(sum(col("mass")), lit(0L)).as("mass")).head()
    val totMass = hChars.agg(sum(col("mass"))).head().getLong(0)
    val oovTypes = oovRow.getAs[Long]("types")
    val oovPpm = 1000000L * oovRow.getAs[Long]("mass") / totMass
    reps.indices.map { k =>
      (k.toLong, if (k == 0) "" else pairs(k - 1),
        if (k == 0) f0Train else trainFerts(k.toLong),
        hFerts(k), oovTypes, oovPpm)
    }.toDF("step", "merged_pair", "fert_train_milli", "fert_held_milli",
      "oov_char_types", "oov_char_mass_ppm")
  }

  /** DATA CARD — the corpus-composition table every dataset release
    * publishes (docs, tokens, and the exact integer token share per
    * (lang, source) cell, ranked by volume): one map-side-combined
    * rollup; the share is `toks·1e6 DIV total` so the column sums to
    * ~1e6 with no float drift; the rank window runs over the
    * (lang × source) DOMAIN (97 rows at sf0.01), bounded at any
    * corpus size — the binPack catalog-window argument. */
  def curateDataCard(spark: SparkSession, sfDir: String): DataFrame = {
    val g = graft.core.QueryCaches.track(
      load(spark, sfDir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("docs"), sum(tokenCount(col("text"))).as("toks")))
    val t = g.agg(sum(col("toks")).as("total"))
    val w = Window.orderBy(col("toks").desc, col("lang"), col("source"))
    g.crossJoin(broadcast(t))
      .select(col("lang"), col("source"), col("docs"), col("toks"),
        expr("CAST(toks * 1000000 DIV total AS BIGINT)").as("share_ppm"),
        row_number().over(w).cast("bigint").as("rnk"))
  }

  /** Integer readability banding — the Flesch-Kincaid-shaped quality
    * signal as an ALL-INTEGER pipeline (the curation stack's other
    * scores are already integer-exact; a float Flesch constant would
    * be the only IEEE in the pillar): per document, words (the shared
    * whitespace tokenizer), sentences (terminator runs `[.!?]+`,
    * floored at 1 so fragments band rather than divide by zero), and
    * a syllable proxy (vowel runs `[aeiou]+` over the lowercased text
    * — the classic approximation). The two Flesch axes surface as
    * exact milli-ratios (1000·words div sents, 1000·vowel-runs div
    * words), and the band is the standard grade ladder on integer
    * thresholds: long sentences OR dense syllables → 'hard',
    * short+light → 'easy', else 'mid'. Plan at 100 TB: one scan, one
    * regexp+arithmetic projection per doc, zero joins/windows — the
    * same shape as text_quality, composable into curate_e2e-style
    * gates. Regex classes are single-char-class alternations, so Java
    * and RE2 agree (the text_bpe_tokens contract). */
  def textReadability(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents")
      .select(col("doc_id"),
        tokenCount(col("text")).as("n_words"),
        greatest(size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("bigint"),
          lit(1L)).as("n_sents"),
        size(expr("regexp_extract_all(lower(text), '[aeiou]+', 0)"))
          .cast("bigint").as("n_syl"))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syl"),
        expr("(1000 * n_words) div n_sents").as("wps_milli"),
        expr("(1000 * n_syl) div n_words").as("spw_milli"))
      .withColumn("band",
        when(col("wps_milli") > 25000L || col("spw_milli") > 1600L, "hard")
          .when(col("wps_milli") < 12000L && col("spw_milli") < 1300L, "easy")
          .otherwise("mid"))

  /** RAKE keyword extraction (Rose et al.) — the unsupervised
    * keyphrase op of the text pillar: candidate phrases are maximal
    * stopword-free token runs, each word scores degree/frequency over
    * the whole corpus (degree = Σ length of phrases containing the
    * word, frequency = occurrences — co-occurring words in long
    * phrases outrank ubiquitous singletons), and a phrase scores the
    * sum of its words' scores. Run segmentation is RELATIONAL, not a
    * per-doc lambda: posexplode, drop stopwords, then the classic
    * gaps-and-islands run id (pos − row_number over the doc-keyed
    * window — same idiom as dedup_substring's span islands; the window
    * is per-document, so no global sort exists anywhere). The
    * score-sum rides [[Tables.dsum]] (per-term IEEE division is
    * engine-identical, the DECIMAL(38,6) fold makes the SUM
    * order-independent) — so even the double scores hash-match.
    * Scale: phrases ≤ tokens, word-stats is a vocab-sized map-side
    * combined aggregate joined back onto DISTINCT phrases (not
    * occurrences), and output is bounded by the n_occur ≥ 3 support
    * floor. */
  def textRake(spark: SparkSession, sfDir: String): DataFrame = {
    val stops = Seq("the", "a", "data", "table")
    val t = load(spark, sfDir, "documents")
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "tok")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = t.filter(!col("tok").isin(stops: _*))
      .withColumn("g", col("pos") - row_number().over(w))
    val phrases = graft.core.QueryCaches.track(
      runs.groupBy(col("doc_id"), col("g"))
        .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok"))).as("phrase"),
          count(lit(1)).as("n_words")))
    val pw = phrases.select(col("n_words"), explode(split(col("phrase"), " ")).as("wd"))
    val ws = pw.groupBy(col("wd"))
      .agg(count(lit(1)).as("freq"), sum(col("n_words")).as("deg"))
    val pd = phrases.groupBy(col("phrase"), col("n_words"))
      .agg(count(lit(1)).as("n_occur"))
    pd.select(col("phrase"), col("n_words"), col("n_occur"),
        explode(split(col("phrase"), " ")).as("wd"))
      .join(ws, "wd")
      .groupBy(col("phrase"), col("n_words"), col("n_occur"))
      .agg(dsum(col("deg").cast("double") / col("freq").cast("double")).as("score"))
      .filter(col("n_words") >= 2 && col("n_occur") >= 3)
  }

  /** Per-document surprisal under the corpus bigram LM — the
    * perplexity-filter stage of a training-data pipeline (score every
    * document by how surprising it is to a model of the corpus; the
    * high tail is noise/garble, the low tail is boilerplate), beside
    * [[textNgramLm]]'s probability view. The -log2 p surprisal is
    * computed in MILLIBITS with the classic fast-log trick — whole
    * bits from the integer binade (floor-log2 = length(bin(q))-1,
    * exact: floor preserves the binade for q ≥ 1) plus a
    * piecewise-linear fraction within the binade — so every score is
    * INTEGER arithmetic, bit-identical across engines and any
    * parallelism (an IEEE log2 differs in ULPs between libms, which a
    * hash gate cannot tolerate; in-cluster use can swap in `log2`).
    * p = (c2+1)/(c1+V) add-one smoothing ⇒ q = ((c1+V)<<20) div
    * (c2+1) ≥ 2^20, so millibits ≥ 0. Plan at 100 TB: bigram and
    * unigram tables broadcast (vocab-bounded); one explode over the
    * corpus; per-doc sums are map-side combined. */
  def textPerplexity(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
    val tk = docTokens(d)
    val uni = graft.core.QueryCaches.track(unigramCounts(tk))
    val vocab = uni.agg(count(lit(1)).as("v"))
    // bigrams stream from the true Generator (no per-doc struct-array
    // materialization — the graft_explode_bigrams allocation contract)
    val bi = d.select(col("doc_id"),
        graft.functions.HashExprs.explodeBigrams(col("text")))
      .select(col("doc_id"), col("w1"), col("w2"))
    val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    bi.join(broadcast(c2), Seq("w1", "w2"))
      .join(broadcast(uni.select(col("w").as("w1"), col("c1"))), "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("q", expr("((c1 + v) * 1048576) div (c2 + 1)"))
      // surprisal in millibits off the shared codegen fast-log kernel
      // (bit-identical to the oracle's length(bin(q))−1 spelling);
      // −20000 re-centers for the 2^20 probability scale.
      .withColumn("mb",
        graft.functions.HashExprs.log2Millis(col("q")) - lit(20000L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("mb")).as("sum_millibits"))
      .withColumn("avg_millibits", expr("sum_millibits div n_bigrams"))
  }

  /** Perplexity-gate OPERATING CURVE — the threshold-picking artifact
    * a curation team reads BEFORE wiring [[textPerplexity]] into a
    * keep/drop gate (the dedup_band_sweep / sim_ivf_sweep discipline
    * applied to the LM quality filter): per candidate surprisal
    * threshold, how many documents and how much token mass survive,
    * with integer per-mille shares. ONE scoring pass (the expensive
    * stage is shared across all thresholds — the sweep adds only
    * conditional sums), thresholds as literals exploded from a 1-row
    * fold. Documents too short to carry a bigram have no surprisal and
    * sit outside the curve's denominator in BOTH engines (the join).
    * At 100 TB the curve costs exactly one more aggregate than the
    * filter itself — which is why it should always be run first. */
  def curatePplSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val ths = Seq(9000L, 10000L, 11000L, 12000L, 13000L)
    val scored = graft.core.QueryCaches.track(
      textPerplexity(spark, sfDir)
        .join(load(spark, sfDir, "documents")
          .select(col("doc_id"), tokenCount(col("text")).as("n_tokens")), "doc_id"))
    val aggs = Seq(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok_total")) ++
      ths.flatMap(t => Seq(
        sum(when(col("avg_millibits") <= t, 1L).otherwise(0L)).as(s"k$t"),
        sum(when(col("avg_millibits") <= t, col("n_tokens")).otherwise(0L)).as(s"m$t")))
    scored.agg(aggs.head, aggs.tail: _*)
      .select(col("n_docs"), col("tok_total"), explode(array(ths.map(t =>
          struct(lit(t).as("th"), col(s"k$t").as("nk"),
            col(s"m$t").as("mk"))): _*)).as("s"))
      .select(col("s.th").as("threshold_millibits"),
        col("s.nk").as("n_kept"), col("s.mk").as("tok_kept"),
        expr("(1000 * s.nk) div n_docs").as("keep_milli"),
        expr("(1000 * s.mk) div tok_total").as("tok_milli"))
  }

  /** Kneser–Ney document scoring — [[textPerplexity]]'s add-one LM
    * upgraded to the smoothing that actually ships in LM-based quality
    * filters: absolute discount d = ½ with the CONTINUATION-count
    * unigram (how many distinct contexts a word follows, not how often
    * it occurs — the fix for "Francisco is frequent but only follows
    * San"). For an observed bigram, p_KN = (c₁₂−½)/c₁ +
    * (½·N₁₊(w₁·)/c₁)·(N₁₊(·w₂)/B), which clears to the exact rational
    * num/den = ((2c₁₂−1)·B + N₁₊(w₁·)·N₁₊(·w₂)) / (2·c₁·B) — so the
    * surprisal is log2Millis(den) − log2Millis(num), two calls of the
    * shared integer fast-log kernel and ZERO floats (num ≤ den always:
    * p ≤ 1; both ≤ ~c₁·B, far inside the kernel's 2^53 domain at any
    * realistic vocab — the decimal swap is the documented 100-LANGUAGE
    * corpus path). Scale: identical posture to textPerplexity — the
    * bigram/context/continuation tables are all vocab-bounded
    * broadcasts, one corpus explode, map-side-combined per-doc sums. */
  def textKnLm(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HashExprs.log2Millis
    val d = load(spark, sfDir, "documents")
    val tk = docTokens(d)
    // bigrams stream from the true Generator (no per-doc struct-array
    // materialization — the graft_explode_bigrams allocation contract)
    val bi = d.select(col("doc_id"),
        graft.functions.HashExprs.explodeBigrams(col("text")))
      .select(col("doc_id"), col("w1"), col("w2"))
    val c2 = graft.core.QueryCaches.track(
      bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    val w1s = c2.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1ctx"), count(lit(1)).as("n1fw"))
    val w2s = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1pw"))
    val b = c2.agg(count(lit(1)).as("btot"))
    bi.join(broadcast(c2), Seq("w1", "w2"))
      .join(broadcast(w1s), "w1")
      .join(broadcast(w2s), "w2")
      .crossJoin(broadcast(b))
      .withColumn("den", expr("2 * c1ctx * btot"))
      .withColumn("num", expr("(2 * c12 - 1) * btot + n1fw * n1pw"))
      .withColumn("mb", log2Millis(col("den")) - log2Millis(col("num")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("mb")).as("sum_millibits_kn"))
      .withColumn("avg_millibits_kn", expr("sum_millibits_kn div n_bigrams"))
  }

  /** Temperature-reweighted language mix — the multilingual upsampling
    * knob (mT5/XLM-R style): sampling rate ∝ c_lang^T with T = 0.5
    * flattens the natural token distribution so low-resource languages
    * stop vanishing from the training mix. T = 0.5 is computed as IEEE
    * `sqrt` — correctly rounded by the standard in BOTH engines, so the
    * per-language weight is bit-identical without any transcendental
    * library risk (the reason this row pins T = ½ rather than a free
    * exponent: pow(x, t) carries no such guarantee). The weight sum
    * folds through DECIMAL(38,6) (order-proof, [[Tables.dsum]]'s
    * contract); the sampled share and the boost-over-natural factor
    * are floored milli readouts of identical double expression trees.
    * Scale: one scan into a |langs|-group map-side-combined fold, then
    * 1-row broadcast stitches — the [[curateMix]] plan with a
    * principled rate rule instead of a hand-set share. */
  def curateTemperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = graft.core.QueryCaches.track(
      load(spark, sfDir, "documents")
        .select(col("lang"), tokenCount(col("text")).as("n_tokens"))
        .groupBy(col("lang")).agg(sum(col("n_tokens")).as("c_tokens")))
    val tot = stats.agg(sum(col("c_tokens")).as("t_tokens"),
      sum(expr("CAST(sqrt(CAST(c_tokens AS DOUBLE)) AS DECIMAL(38,6))"))
        .cast("double").as("s_w"))
    stats.crossJoin(broadcast(tot))
      .selectExpr("lang", "c_tokens",
        "(1000 * c_tokens) div t_tokens AS natural_milli",
        "CAST(floor(1000.0 * (sqrt(CAST(c_tokens AS DOUBLE)) / s_w)) AS BIGINT)" +
          " AS temp_milli",
        "CAST(floor(1000.0 * (sqrt(CAST(c_tokens AS DOUBLE)) / s_w)" +
          " * CAST(t_tokens AS DOUBLE) / CAST(c_tokens AS DOUBLE)) AS BIGINT)" +
          " AS boost_milli")
  }

  /** Pairwise Jensen–Shannon divergence between per-source unigram
    * distributions — the source-similarity matrix a curation pass
    * reads before merging or deduplicating corpora (JSD ≈ 0: the
    * sources are interchangeable; JSD → 1 bit: disjoint vocabularies).
    * Computed ENTIRELY in the integer millibit log algebra
    * ([[graft.functions.HashExprs.log2Millis]], the fast-log kernel
    * shared with text_perplexity/text_zipf/text_kn_lm — both engines
    * evaluate the identical piecewise-chord formula, so the row is
    * hash-exact): for matched tokens the contribution is
    * a·Nb·(L(2aNb) − L(aNb+bNa)) + b·Na·(L(2bNa) − L(aNb+bNa)) at
    * scale 2·Na·Nb; tokens private to one source contribute exactly
    * 1000 millibits each at weight p (L(2x) − L(x) ≡ 1000 under the
    * binade+chord kernel), folded CLOSED-FORM from the matched sums —
    * so the pair join is a plain INNER join on token, no outer-join
    * null handling anywhere. Per-token products stay under 2^63
    * (count·total ≤ ~1e13 at sf0.1 × ≤44k millibits); the pair fold
    * crosses into DECIMAL(38,0) where int64 would saturate. Scale:
    * the self-join is token-keyed with fan-out bounded by |sources|²
    * (a domain constant, not data); everything after lives on the
    * 190-row pair grid with 20-row broadcast totals. */
  def textJsd(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HashExprs.log2Millis
    val cnt = graft.core.QueryCaches.track(
      load(spark, sfDir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c")))
    val totals = cnt.groupBy(col("source")).agg(sum(col("c")).as("nt"))
    val matched = cnt.as("x").join(cnt.as("y"),
        col("x.token") === col("y.token") && col("x.source") < col("y.source"))
      .select(col("x.source").as("sa"), col("y.source").as("sb"),
        col("x.c").as("a"), col("y.c").as("b"))
      .join(broadcast(totals.select(col("source").as("sa"), col("nt").as("na"))), "sa")
      .join(broadcast(totals.select(col("source").as("sb"), col("nt").as("nb"))), "sb")
      .withColumn("u", col("a") * col("nb"))
      .withColumn("v", col("b") * col("na"))
      .withColumn("term",
        col("u") * (log2Millis(lit(2L) * col("u")) - log2Millis(col("u") + col("v"))) +
          col("v") * (log2Millis(lit(2L) * col("v")) - log2Millis(col("u") + col("v"))))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("term").cast(DecimalType(38, 0))).as("term_sum"),
        sum(col("a")).as("sam"), sum(col("b")).as("sbm"),
        min(col("na")).as("na"), min(col("nb")).as("nb"))
    matched
      .withColumn("d", col("term_sum") +
        lit(1000L).cast(DecimalType(38, 0)) * col("nb") * (col("na") - col("sam")) +
        lit(1000L).cast(DecimalType(38, 0)) * col("na") * (col("nb") - col("sbm")))
      .select(col("sa").as("source_a"), col("sb").as("source_b"), col("n_common"),
        expr("CAST((1000 * d) div (CAST(2 AS DECIMAL(38,0)) * na * nb) AS BIGINT)")
          .as("jsd_micro"))
  }

  /** Dedup-mass data card — what exact dedup would actually REMOVE,
    * per source, in token mass (the unit training cost is paid in),
    * not doc count: fingerprint groups keep their min doc_id, every
    * other copy is removed mass. A planted MIRROR source (every 10th
    * doc re-entered verbatim) proves the readout: the mirror loses
    * 100% of its tokens (all copies of an earlier original), while
    * original sources lose only their organic dup share — exactly the
    * asymmetry a real crawl's mirror-host audit shows. Scale: one
    * fp-keyed aggregate for keepers, one fp equi-join back, a
    * |sources|-group fold — the dedup_exact plan with a token-mass
    * readout. */
  def curateDedupMass(spark: SparkSession, sfDir: String): DataFrame = {
    val base = load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val mirror = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        lit("mirror").as("source"), col("text"))
    val d = graft.core.QueryCaches.track(
      base.unionAll(mirror)
        .select(col("doc_id"), col("source"),
          fingerprint(col("text")).as("fp"),
          tokenCount(col("text")).as("n_tokens")))
    val keep = d.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    d.join(keep, "fp")
      .select(col("source"), col("n_tokens"),
        when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L).as("rm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("rm")).as("n_removed"),
        sum(col("n_tokens")).as("tok_total"),
        sum(col("rm") * col("n_tokens")).as("tok_removed"))
      .withColumn("removed_milli",
        expr("CASE WHEN tok_total = 0 THEN 0 " +
          "ELSE (1000 * tok_removed) div tok_total END"))
  }

  /** Type-token-ratio curve by length band — the lexical-diversity
    * card DONE RIGHT: raw TTR famously collapses with document length
    * (longer text repeats more), so comparing documents' TTR without
    * conditioning on length is noise. Banding by token count (10-token
    * bands, capped at 9+) and aggregating CORPUS totals per band
    * (Σ distinct / Σ tokens — never a mean of per-doc ratios, the
    * [[curateFertility]] discipline) yields the curve a quality gate
    * thresholds against: a document far below its band's TTR is
    * repetitive for its length. One scan, |bands|-group fold. */
  def textTtrCurve(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents")
      .select(tokenCount(col("text")).as("n_tokens"),
        size(array_distinct(tokens(col("text")))).cast("bigint").as("n_types"))
      .groupBy(expr("least(CAST(9 AS BIGINT), n_tokens div 10)").as("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok_total"),
        sum(col("n_types")).as("type_total"))
      .select(col("band"), col("n_docs"), col("tok_total"), col("type_total"),
        expr("CASE WHEN tok_total = 0 THEN 0 " +
          "ELSE (1000 * type_total) div tok_total END").as("ttr_milli"))

  /** Distributional (second-order) word similarity over PPMI context
    * vectors — the count-based ancestor of word embeddings, exact to
    * the bit: the top-40 vocabulary by document frequency spans the
    * context space, co-occurrence is DOCUMENT-level set semantics
    * (distinct (doc, token) pairs — multiplicity-free, so the count
    * algebra stays integer), PMI rides the shared millibit fast-log
    * (pmi = mb(c_wc·N) − mb(c_w·c_c), positive part only), and two
    * words are similar when their PPMI context ROWS align — the
    * integer dot product over shared contexts, top-3 per word. Plan
    * shape at 100 TB: the vocab is a top-k broadcast (40 rows), the
    * (doc, vocab-token) relation is corpus-bounded but 40-wide per
    * doc max, the co-occurrence self-join is doc-keyed with V²-bounded
    * output, and everything after the PPMI matrix (≤ V² rows) is
    * domain-bounded — corpus size only feeds the two count scans.
    * Each unordered pair is generated ONCE (w1 < w2) and mirrored, so
    * the matrix is symmetric and the similarity join needs no
    * re-orientation; the oracle spells the equivalent both-orientation
    * self-join. */
  def textPpmiSim(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HashExprs.log2Millis
    val d = load(spark, sfDir, "documents")
    val tok = graft.core.QueryCaches.track(
      d.select(col("doc_id"), explode(tokens(col("text"))).as("w")).distinct())
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("dfw"))
      .withColumn("rk0", row_number().over(
        Window.orderBy(col("dfw").desc, col("w"))))
      .filter(col("rk0") <= 40).select(col("w"), col("dfw"))
    val tv = tok.join(broadcast(vocab), "w")
    val nd = d.agg(count(lit(1)).as("n"))
    // Ordered pairs expand IN-ROW from each doc's ≤40-entry vocab
    // array (double explode + w1 < w2), then mirror: one collect_list
    // shuffle of the 40-wide-per-doc relation replaces the doc-keyed
    // self-join's two input shuffles, and the expansion generates each
    // unordered pair once instead of twice. Measured (round 14,
    // sf0.1): 3.32 → 2.96 s — the remaining floor is the corpus-scale
    // distinct (doc, token) pass that exact document frequency
    // requires, not the pairing.
    val half = graft.core.QueryCaches.track(tv.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("w"), col("dfw"))).as("ws"))
      .select(explode(col("ws")).as("a"), col("ws"))
      .select(col("a"), explode(col("ws")).as("b"))
      .filter(col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("w1"), col("b.w").as("w2"),
        col("a.dfw").as("df1"), col("b.dfw").as("df2"))
      .agg(count(lit(1)).as("cwc")))
    val co = half.unionAll(half.select(col("w2").as("w1"), col("w1").as("w2"),
      col("df2").as("df1"), col("df1").as("df2"), col("cwc")))
    val pp = graft.core.QueryCaches.track(
      co.crossJoin(broadcast(nd))
        .select(col("w1"), col("w2"),
          (log2Millis(col("cwc") * col("n")) -
            log2Millis(col("df1") * col("df2"))).as("pmi"))
        .filter(col("pmi") > 0))
    pp.select(col("w1").as("w"), col("w2").as("c"), col("pmi").as("pa"))
      .join(pp.select(col("w1").as("other"), col("w2").as("c"),
        col("pmi").as("pb")), "c")
      .filter(col("w") =!= col("other"))
      .groupBy(col("w"), col("other"))
      .agg(sum(col("pa") * col("pb")).as("dot"))
      .withColumn("rk0", row_number().over(
        Window.partitionBy(col("w")).orderBy(col("dot").desc, col("other"))))
      .filter(col("rk0") <= 3)
      .select(col("w"), col("rk0").cast("bigint").as("rk"), col("other"),
        col("dot"))
  }

  /** Token-budget fill — the data-mixing selection every training run
    * makes concrete: order the corpus by a quality score (here the
    * integer TTR milli — distinct-token ratio, ties to doc_id), take
    * documents greedily until the token budget (50k) is spent, and
    * report per source how much survived plus the score the cut landed
    * on. The prefix sum is [[graft.ext.SkewOps.globalCumSum]] — range
    * partition on (score, id), per-partition (count, sum) scalars to
    * the driver, broadcast offsets, local prefix — so the global
    * "running total over everything" never passes through a
    * single-partition window; at 100 TB the ordered fill costs two
    * passes and one bounded scalar sync. The oracle spells the naive
    * global window SUM (total order, so RANGE == ROWS). */
  def curateBudgetFill(spark: SparkSession, sfDir: String): DataFrame = {
    val base = load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).as("n_tokens"),
        size(array_distinct(tokens(col("text")))).cast("bigint").as("n_types"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr("(1000 * n_types) div n_tokens").as("score"))
      .withColumn("score_ord", lit(1000L) - col("score"))
    graft.ext.SkewOps.globalCumSum(base, Seq("score_ord", "doc_id"),
        "n_tokens", "_rk", "cum")
      .filter(col("cum") <= 50000L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sel"), sum(col("n_tokens")).as("tok_sel"),
        min(col("score")).as("cut_milli"))
  }

  /** GLOBAL concat-and-chunk packing with the BOUNDARY manifest — the
    * companion of [[curatePack]] (per-shard offset bins): documents in a deterministic
    * content-hash order are conceptually concatenated into one token
    * stream and cut into fixed 512-token training sequences; the
    * manifest reports, per sequence, how many documents it touches,
    * how many of those are PARTIAL (split across a boundary — the
    * rows an attention-mask / document-boundary loss policy cares
    * about), and its token count (512 everywhere but the tail). No
    * driver loop and no single-partition window: the running offset
    * is [[graft.ext.SkewOps.globalCumSum]] (range-sort + broadcast
    * offsets), each doc explodes into only the ⌈len/512⌉ sequences it
    * spans, and the rollup is map-side combined — at 100 TB the
    * manifest costs one sorted scan of (doc, count) rows. The oracle
    * spells the identical spans off a global window cumsum. */
  def curatePackBoundaries(spark: SparkSession, sfDir: String): DataFrame = {
    val B = 512L
    val base = load(spark, sfDir, "documents")
      .select(col("doc_id"), pmod(fingerprint(col("text")), lit(1000000L)).as("h"),
        tokenCount(col("text")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
    val cum = graft.ext.SkewOps.globalCumSum(base, Seq("h", "doc_id"),
      "n_tokens", "_rk", "cum")
    val spans = cum.select(col("doc_id"), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("s"), col("cum").as("e"))
      .select(col("doc_id"), col("n_tokens"), col("s"), col("e"),
        explode(sequence(expr(s"s div $B"), expr(s"(e - 1) div $B"))).as("seq_id"))
    spans.select(col("seq_id"), col("n_tokens"),
        greatest(col("s"), col("seq_id") * B).as("cs"),
        least(col("e"), (col("seq_id") + 1) * B).as("ce"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ce") - col("cs") < col("n_tokens"), 1L).otherwise(0L))
          .as("n_partial_docs"),
        sum(col("ce") - col("cs")).as("n_seq_tokens"))
  }

  /** The text_bpe_train oracle: the training loop UNROLLED to `steps`
    * chained CTE rounds — pair count over round k−1's vocab, 1-row
    * argmax, rewrite, fertility fold. MATERIALIZED on each round's
    * vocab and argmax (each is referenced 2–3×; DuckDB would otherwise
    * re-derive the whole chain per reference). */
  private def bpeChainSql(steps: Int, where: String = ""): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH words AS (SELECT token AS w, CAST(COUNT(*) AS BIGINT) AS cnt
              |  FROM (SELECT unnest($toksSql) AS token FROM documents$where)
              |  GROUP BY 1),
              |r0 AS MATERIALIZED (SELECT cnt,
              |  array_to_string(string_split(w, ''), ' ') AS rep FROM words)""".stripMargin
    for (k <- 1 to steps) {
      val p = k - 1
      sb ++= s""",
                |p$k AS (SELECT s.cnt, string_split(s.rep, ' ')[i] || ' ' ||
                |    string_split(s.rep, ' ')[i + 1] AS pair
                |  FROM r$p s, LATERAL (SELECT unnest(range(1,
                |    len(string_split(s.rep, ' ')))) AS i) ii),
                |t$k AS MATERIALIZED (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pcount
                |  FROM p$k GROUP BY 1 ORDER BY pcount DESC, pair LIMIT 1),
                |r$k AS MATERIALIZED (SELECT cnt, replace(rep, (SELECT pair FROM t$k),
                |    replace((SELECT pair FROM t$k), ' ', '')) AS rep FROM r$p),
                |f$k AS (SELECT CAST($k AS BIGINT) AS step,
                |  (SELECT pair FROM t$k) AS merged_pair,
                |  (SELECT pcount FROM t$k) AS pcount,
                |  (1000 * CAST(SUM(cnt * len(string_split(rep, ' '))) AS BIGINT))
                |    // CAST(SUM(cnt) AS BIGINT) AS fertility_milli
                |  FROM r$k)""".stripMargin
    }
    sb.toString
  }

  private def bpeTrainOracleSql(steps: Int): String =
    bpeChainSql(steps) + (1 to steps).map(k => s"SELECT * FROM f$k")
      .mkString("\n", "\nUNION ALL ", "")

  /** The text_bpe_apply oracle: the SAME unrolled chain, read out as
    * the applied segmentation — explode round `steps`' vocab into
    * subword tokens, weight by word count, top-20 (n desc, tok asc).
    * The unreferenced f* CTEs of the shared chain are never evaluated. */
  private def bpeApplyOracleSql(steps: Int): String =
    bpeChainSql(steps) +
      s"""
         |SELECT rk, tok, n FROM (
         |  SELECT tok, n, CAST(row_number() OVER (ORDER BY n DESC, tok)
         |    AS BIGINT) AS rk
         |  FROM (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS n
         |    FROM (SELECT cnt, unnest(list_filter(string_split(rep, ' '),
         |      t -> t <> '')) AS tok FROM r$steps)
         |    GROUP BY 1))
         |WHERE rk <= 20""".stripMargin

  /** The text_bpe_heldout oracle: the train chain unrolled over the
    * EVEN half, the 6 replace stages + per-step fertility folds over
    * the ODD half, and the char-domain OOV anti-join — spelled
    * identically to the Spark side's collapsed projection chain. */
  private def bpeHeldoutOracleSql(steps: Int): String = {
    val sb = new StringBuilder
    sb ++= bpeChainSql(steps, " WHERE doc_id % 2 = 0")
    sb ++= s""",
              |f0 AS (SELECT (1000 * CAST(SUM(cnt * len(string_split(rep, ' '))) AS BIGINT))
              |    // CAST(SUM(cnt) AS BIGINT) AS fertility_milli FROM r0),
              |hw AS (SELECT token AS w, CAST(COUNT(*) AS BIGINT) AS cnt
              |  FROM (SELECT unnest($toksSql) AS token FROM documents WHERE doc_id % 2 = 1)
              |  GROUP BY 1),
              |h0 AS MATERIALIZED (SELECT cnt,
              |  array_to_string(string_split(w, ''), ' ') AS rep FROM hw)""".stripMargin
    for (k <- 1 to steps) {
      sb ++= s""",
                |h$k AS MATERIALIZED (SELECT cnt, replace(rep, (SELECT pair FROM t$k),
                |    replace((SELECT pair FROM t$k), ' ', '')) AS rep FROM h${k - 1})""".stripMargin
    }
    for (k <- 0 to steps) {
      sb ++= s""",
                |g$k AS (SELECT (1000 * CAST(SUM(cnt * len(string_split(rep, ' '))) AS BIGINT))
                |    // CAST(SUM(cnt) AS BIGINT) AS f FROM h$k)""".stripMargin
    }
    sb ++= s""",
              |tc AS (SELECT DISTINCT unnest(string_split(w, '')) AS c FROM words),
              |hc AS MATERIALIZED (SELECT c, CAST(SUM(cnt) AS BIGINT) AS mass FROM
              |  (SELECT cnt, unnest(string_split(w, '')) AS c FROM hw) GROUP BY 1),
              |oov AS (SELECT CAST(COUNT(*) AS BIGINT) AS oov_char_types,
              |  CAST(COALESCE(SUM(mass), 0) AS BIGINT) AS oov_mass
              |  FROM hc WHERE c NOT IN (SELECT c FROM tc)),
              |tm AS (SELECT CAST(SUM(mass) AS BIGINT) AS m FROM hc)""".stripMargin
    val rows = (0 to steps).map { k =>
      val pair = if (k == 0) "''" else s"(SELECT pair FROM t$k)"
      val tf = s"(SELECT fertility_milli FROM f$k)"
      s"""SELECT CAST($k AS BIGINT) AS step, $pair AS merged_pair,
         |  $tf AS fert_train_milli, (SELECT f FROM g$k) AS fert_held_milli,
         |  (SELECT oov_char_types FROM oov) AS oov_char_types,
         |  (1000000 * (SELECT oov_mass FROM oov)) // (SELECT m FROM tm)
         |    AS oov_char_mass_ppm""".stripMargin
    }
    sb.toString + rows.mkString("\n", "\nUNION ALL ", "")
  }

  private def markerSql(ws: Seq[String]): String =
    s"CAST(len(list_filter($toksSql, t -> t IN (${ws.map(w => s"'$w'").mkString(",")}))) AS BIGINT)"

  private val langCase: String = {
    val whens = TextOps.langMarkers
      .map { case (l, _) => s"WHEN score_$l = best AND score_$l > 0 THEN '$l'" }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  private val qualitySql =
    s"""GREATEST(0.0, LEAST(1.0,
       |    0.5 + CAST(len(list_filter($toksSql, t -> t IN ('the','a','data','table'))) AS BIGINT)
       |            / CAST(len($toksSql) AS BIGINT)
       |        - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) / n_chars * 2
       |        - CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) / n_chars))""".stripMargin

  /** Shared CTE chain ending at `grid(doc_id, lang, lang_c, score)` —
    * the DuckDB spelling of [[nbScoreGrid]], with the integer fast-log
    * spelled as length(bin(q))−1 + the piecewise-linear fraction. */
  private def nbGridSql: String =
    s"""tok AS MATERIALIZED (SELECT doc_id, unnest($toksSql) AS tok
       |       FROM documents),
       |model AS MATERIALIZED (SELECT lang_c, tok, CAST(COUNT(*) AS BIGINT) AS c
       |       FROM (SELECT lang AS lang_c, unnest($toksSql) AS tok
       |             FROM documents)
       |       GROUP BY 1, 2),
       |vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM tok),
       |lt AS (SELECT lang_c, CAST(SUM(c) AS BIGINT) AS ctot FROM model GROUP BY 1),
       |pri AS (SELECT lang AS lang_c, CAST(COUNT(*) AS BIGINT) AS nd
       |        FROM documents GROUP BY 1),
       |langs AS (SELECT lt.lang_c,
       |            ${log2MillisSql("(lt.ctot + vocab.v)")} AS dmlog,
       |            ${log2MillisSql("pri.nd")} AS pmlog
       |          FROM lt CROSS JOIN vocab JOIN pri USING (lang_c)),
       |matched AS (SELECT t.doc_id, m.lang_c,
       |              CAST(SUM(${log2MillisSql("(m.c + 1)")}) AS BIGINT) AS s
       |            FROM tok t JOIN model m USING (tok) GROUP BY 1, 2),
       |docs AS (SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tok
       |         FROM documents),
       |grid AS MATERIALIZED (SELECT d.doc_id, d.lang, l.lang_c,
       |          COALESCE(ms.s, 0) - d.n_tok * l.dmlog + l.pmlog AS score
       |        FROM docs d CROSS JOIN langs l
       |        LEFT JOIN matched ms
       |          ON ms.doc_id = d.doc_id AND ms.lang_c = l.lang_c)""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("curate_pack_boundaries", curatePackBoundaries,
      s"""WITH d AS (SELECT doc_id, ${foldSql("text")} % 1000000 AS h,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id) AS BIGINT) AS e
         |  FROM d WHERE n_tokens > 0),
         |sp AS (SELECT doc_id, n_tokens, e - n_tokens AS s, e,
         |    unnest(range((e - n_tokens) // 512, (e - 1) // 512 + 1)) AS seq_id
         |  FROM c)
         |SELECT seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN LEAST(e, (seq_id + 1) * 512) -
         |    GREATEST(s, seq_id * 512) < n_tokens THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_partial_docs,
         |  CAST(SUM(LEAST(e, (seq_id + 1) * 512) - GREATEST(s, seq_id * 512))
         |    AS BIGINT) AS n_seq_tokens
         |FROM sp GROUP BY seq_id""".stripMargin),
    QueryDef("curate_budget_fill", curateBudgetFill,
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct($toksSql)) AS BIGINT) AS n_types
         |  FROM documents),
         |s AS (SELECT doc_id, source, n_tokens,
         |    (1000 * n_types) // n_tokens AS score
         |  FROM d WHERE n_tokens > 0),
         |c AS (SELECT source, n_tokens, score,
         |    CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         |      AS cum
         |  FROM s)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sel,
         |  CAST(SUM(n_tokens) AS BIGINT) AS tok_sel, MIN(score) AS cut_milli
         |FROM c WHERE cum <= 50000 GROUP BY source""".stripMargin),
    QueryDef("text_ppmi_sim", textPpmiSim,
      s"""WITH tok AS MATERIALIZED (SELECT DISTINCT doc_id,
         |    unnest($toksSql) AS w FROM documents),
         |df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS dfw FROM tok GROUP BY 1),
         |voc AS MATERIALIZED (SELECT w, dfw FROM (
         |  SELECT w, dfw, row_number() OVER (ORDER BY dfw DESC, w) AS rk
         |  FROM df) WHERE rk <= 40),
         |tv AS MATERIALIZED (SELECT tok.doc_id, tok.w, voc.dfw
         |  FROM tok JOIN voc ON tok.w = voc.w),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         |co AS (SELECT a.w AS w1, b.w AS w2, a.dfw AS df1, b.dfw AS df2,
         |    CAST(COUNT(*) AS BIGINT) AS cwc
         |  FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.w <> b.w
         |  GROUP BY 1, 2, 3, 4),
         |pp AS MATERIALIZED (SELECT w1, w2, pmi FROM (
         |  SELECT w1, w2,
         |    ${log2MillisSql("(cwc * n)")} - ${log2MillisSql("(df1 * df2)")} AS pmi
         |  FROM co, nd) WHERE pmi > 0),
         |sim AS (SELECT x.w1 AS w, y.w1 AS other,
         |    CAST(SUM(x.pmi * y.pmi) AS BIGINT) AS dot
         |  FROM pp x JOIN pp y ON x.w2 = y.w2 AND x.w1 <> y.w1
         |  GROUP BY 1, 2)
         |SELECT w, rk, other, dot FROM (
         |  SELECT w, other, dot, CAST(row_number() OVER (
         |    PARTITION BY w ORDER BY dot DESC, other) AS BIGINT) AS rk
         |  FROM sim) WHERE rk <= 3""".stripMargin),
    QueryDef("curate_source_overlap", curateSourceOverlap,
      s"""WITH tk_t AS (SELECT source, $toksSql AS tk FROM documents),
         |sh_t AS (SELECT source, CASE WHEN len(tk) >= 5 THEN list_transform(range(1, len(tk) - 3),
         |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])
         |  ELSE [] END AS sh FROM tk_t),
         |fp_t AS (SELECT source, list_distinct(list_transform(sh, s ->
         |  ${foldSql("s")})) AS fps FROM sh_t),
         |g AS MATERIALIZED (SELECT DISTINCT source, unnest(fps) AS fp FROM fp_t),
         |tot AS (SELECT source AS src_a, CAST(COUNT(*) AS BIGINT) AS n_a
         |        FROM g GROUP BY 1),
         |sh AS (SELECT a.source AS src_a, b.source AS src_b,
         |         CAST(COUNT(*) AS BIGINT) AS n_shared
         |       FROM g a JOIN g b USING (fp)
         |       WHERE a.source <> b.source GROUP BY 1, 2)
         |SELECT sh.src_a, sh.src_b, sh.n_shared, t.n_a,
         |  (1000 * sh.n_shared) // t.n_a AS containment_milli
         |FROM sh JOIN tot t ON sh.src_a = t.src_a""".stripMargin),
    QueryDef("curate_blocklist", curateBlocklist,
      s"""WITH h AS (SELECT source,
         |    CAST(len(list_filter($toksSql,
         |      t -> t IN ('data', 'casino', 'spam'))) AS BIGINT) AS hits
         |  FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |  CAST(SUM(hits) AS BIGINT) AS n_hits,
         |  (1000 * CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT))
         |    // CAST(COUNT(*) AS BIGINT) AS flag_rate_milli
         |FROM h GROUP BY 1""".stripMargin),
    QueryDef("text_stopword_disco", textStopwordDisco,
      s"""WITH tok AS MATERIALIZED (SELECT doc_id, unnest($toksSql) AS tok
         |       FROM documents),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
         |        FROM (SELECT DISTINCT doc_id, tok FROM tok) GROUP BY 1),
         |cfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf FROM tok GROUP BY 1),
         |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tok)
         |SELECT d.tok, d.df, c.cf,
         |  (1000 * d.df) // nd.n_docs AS df_milli,
         |  (1000 * c.cf) // tt.total AS coverage_milli
         |FROM dfq d JOIN cfq c USING (tok)
         |CROSS JOIN nd CROSS JOIN tt
         |WHERE 2 * d.df > nd.n_docs""".stripMargin),
    QueryDef("text_nb_langid", textNbLangid,
      s"""WITH $nbGridSql,
         |best AS (SELECT doc_id, MAX(score) AS mx FROM grid GROUP BY 1),
         |pred AS (SELECT g.doc_id, g.lang, MIN(g.lang_c) AS pred_lang
         |         FROM grid g JOIN best b
         |           ON g.doc_id = b.doc_id AND g.score = b.mx
         |         GROUP BY 1, 2)
         |SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM pred GROUP BY 1, 2""".stripMargin),
    QueryDef("text_langid_margin", textLangidMargin,
      s"""WITH $nbGridSql,
         |best AS (SELECT doc_id, MAX(score) AS mx FROM grid GROUP BY 1),
         |g2 AS MATERIALIZED (SELECT g.doc_id, g.lang, g.lang_c, g.score, b.mx
         |      FROM grid g JOIN best b USING (doc_id)),
         |pred AS (SELECT doc_id, lang, MIN(lang_c) AS pred_lang, MAX(mx) AS mx
         |         FROM g2 WHERE score = mx GROUP BY 1, 2),
         |scnd AS (SELECT doc_id, MAX(score) AS mx2 FROM g2
         |         WHERE score < mx GROUP BY 1),
         |mrg AS (SELECT p.lang, p.pred_lang,
         |          COALESCE(p.mx - s.mx2, 0) AS margin
         |        FROM pred p LEFT JOIN scnd s USING (doc_id))
         |SELECT margin // 1000 AS margin_bits, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct
         |FROM mrg GROUP BY 1""".stripMargin),
    QueryDef("text_ttr_curve", textTtrCurve,
      s"""WITH d AS (SELECT CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct($toksSql)) AS BIGINT) AS n_types
         |  FROM documents),
         |g AS (SELECT least(9, n_tokens // 10) AS band,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS tok_total,
         |    CAST(SUM(n_types) AS BIGINT) AS type_total
         |  FROM d GROUP BY 1)
         |SELECT CAST(band AS BIGINT) AS band, n_docs, tok_total, type_total,
         |  CASE WHEN tok_total = 0 THEN 0
         |       ELSE (1000 * type_total) // tok_total END AS ttr_milli
         |FROM g""".stripMargin),
    QueryDef("curate_dedup_mass", curateDedupMass,
      s"""WITH c AS (SELECT doc_id, source, text FROM documents
         |  UNION ALL SELECT doc_id + 5000000, 'mirror', text
         |    FROM documents WHERE doc_id % 10 = 0),
         |d AS (SELECT doc_id, source, ${foldSql("text")} AS fp,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM c),
         |keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM d GROUP BY fp),
         |m AS (SELECT source, n_tokens,
         |    CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END AS rm
         |  FROM d JOIN keep USING (fp)),
         |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(rm) AS BIGINT) AS n_removed,
         |    CAST(SUM(n_tokens) AS BIGINT) AS tok_total,
         |    CAST(SUM(rm * n_tokens) AS BIGINT) AS tok_removed
         |  FROM m GROUP BY source)
         |SELECT source, n_docs, n_removed, tok_total, tok_removed,
         |  CASE WHEN tok_total = 0 THEN 0
         |       ELSE (1000 * tok_removed) // tok_total END AS removed_milli
         |FROM g""".stripMargin),
    QueryDef("curate_temperature_mix", curateTemperatureMix,
      s"""WITH stats AS (SELECT lang,
         |    CAST(SUM(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS c_tokens
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(SUM(c_tokens) AS BIGINT) AS t_tokens,
         |    CAST(SUM(CAST(sqrt(CAST(c_tokens AS DOUBLE)) AS DECIMAL(38,6)))
         |      AS DOUBLE) AS s_w
         |  FROM stats)
         |SELECT lang, c_tokens,
         |  (1000 * c_tokens) // t_tokens AS natural_milli,
         |  CAST(floor(1000.0 * (sqrt(CAST(c_tokens AS DOUBLE)) / s_w))
         |    AS BIGINT) AS temp_milli,
         |  CAST(floor(1000.0 * (sqrt(CAST(c_tokens AS DOUBLE)) / s_w)
         |    * CAST(t_tokens AS DOUBLE) / CAST(c_tokens AS DOUBLE)) AS BIGINT)
         |    AS boost_milli
         |FROM stats CROSS JOIN tot""".stripMargin),
    QueryDef("text_jsd", textJsd,
      s"""WITH cnt AS MATERIALIZED (SELECT source, token,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT source, unnest($toksSql) AS token FROM documents)
         |  GROUP BY source, token),
         |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS nt
         |  FROM cnt GROUP BY source),
         |m AS (SELECT x.source AS sa, y.source AS sb, x.c AS a, y.c AS b,
         |    ta.nt AS na, tb.nt AS nb
         |  FROM cnt x JOIN cnt y ON x.token = y.token AND x.source < y.source
         |  JOIN tot ta ON ta.source = x.source
         |  JOIN tot tb ON tb.source = y.source),
         |t AS (SELECT sa, sb, a, b, na, nb, a * nb AS u, b * na AS v FROM m),
         |t2 AS (SELECT sa, sb, a, b, na, nb,
         |    u * (${log2MillisSql("(2 * u)")} - ${log2MillisSql("(u + v)")})
         |    + v * (${log2MillisSql("(2 * v)")} - ${log2MillisSql("(u + v)")}) AS term
         |  FROM t),
         |g AS (SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS n_common,
         |    SUM(CAST(term AS HUGEINT)) AS term_sum,
         |    CAST(SUM(a) AS BIGINT) AS sam, CAST(SUM(b) AS BIGINT) AS sbm,
         |    MIN(na) AS na, MIN(nb) AS nb
         |  FROM t2 GROUP BY sa, sb),
         |d AS (SELECT sa, sb, n_common, na, nb,
         |    term_sum + CAST(1000 AS HUGEINT) * nb * (na - sam)
         |             + CAST(1000 AS HUGEINT) * na * (nb - sbm) AS d
         |  FROM g)
         |SELECT sa AS source_a, sb AS source_b, n_common,
         |  CAST((1000 * d) // (CAST(2 AS HUGEINT) * na * nb) AS BIGINT)
         |    AS jsd_micro
         |FROM d""".stripMargin),
    QueryDef("text_kn_lm", textKnLm,
      s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |bi AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2
         |       FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |               i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))) AS b
         |             FROM tk)),
         |c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2),
         |w1s AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1ctx,
         |          CAST(COUNT(*) AS BIGINT) AS n1fw FROM c2 GROUP BY 1),
         |w2s AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1pw FROM c2 GROUP BY 1),
         |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS btot FROM c2),
         |sc AS (SELECT doc_id,
         |         2 * c1ctx * btot AS den,
         |         (2 * c12 - 1) * btot + n1fw * n1pw AS num
         |       FROM bi JOIN c2 USING (w1, w2) JOIN w1s USING (w1)
         |         JOIN w2s USING (w2), b),
         |m AS (SELECT doc_id, ${log2MillisSql("den")} - ${log2MillisSql("num")} AS mb FROM sc)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |       CAST(SUM(mb) AS BIGINT) AS sum_millibits_kn,
         |       CAST(SUM(mb) AS BIGINT) // COUNT(*) AS avg_millibits_kn
         |FROM m GROUP BY doc_id""".stripMargin),
    QueryDef("curate_ppl_sweep", curatePplSweep,
      s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |uni AS (SELECT w, COUNT(*) AS c1
         |        FROM (SELECT unnest(tk) AS w FROM tk) GROUP BY w),
         |voc AS (SELECT COUNT(*) AS v FROM uni),
         |bi AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2
         |       FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |               i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))) AS b
         |             FROM tk)),
         |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
         |sc AS (SELECT doc_id,
         |         ((c1 + v) * 1048576) // (c2.c2 + 1) AS q
         |       FROM bi JOIN c2 USING (w1, w2) JOIN uni ON bi.w1 = uni.w, voc),
         |s2 AS (SELECT doc_id, q, length(bin(q)) - 1 AS b FROM sc),
         |s3 AS (SELECT doc_id,
         |         CAST((b - 20) * 1000 AS BIGINT)
         |           + ((q - (CAST(1 AS BIGINT) << b)) * 1000)
         |             // (CAST(1 AS BIGINT) << b) AS mb
         |       FROM s2),
         |ppl AS (SELECT doc_id,
         |          CAST(SUM(mb) AS BIGINT) // COUNT(*) AS avg_mb
         |        FROM s3 GROUP BY doc_id),
         |tok AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |        FROM documents),
         |j AS (SELECT p.doc_id, avg_mb, n_tokens
         |      FROM ppl p JOIN tok ON p.doc_id = tok.doc_id),
         |t0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(n_tokens) AS BIGINT) AS tok_total FROM j),
         |th(t) AS (VALUES (9000), (10000), (11000), (12000), (13000)),
         |k AS (SELECT CAST(th.t AS BIGINT) AS threshold_millibits,
         |        CAST(SUM(CASE WHEN avg_mb <= th.t THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_kept,
         |        CAST(SUM(CASE WHEN avg_mb <= th.t THEN n_tokens ELSE 0 END)
         |          AS BIGINT) AS tok_kept
         |      FROM j CROSS JOIN th GROUP BY 1)
         |SELECT threshold_millibits, n_kept, tok_kept,
         |  (1000 * n_kept) // n_docs AS keep_milli,
         |  (1000 * tok_kept) // tok_total AS tok_milli
         |FROM k CROSS JOIN t0""".stripMargin),
    QueryDef("text_perplexity", textPerplexity,
      s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |uni AS (SELECT w, COUNT(*) AS c1
         |        FROM (SELECT unnest(tk) AS w FROM tk) GROUP BY w),
         |voc AS (SELECT COUNT(*) AS v FROM uni),
         |bi AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2
         |       FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |               i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))) AS b
         |             FROM tk)),
         |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
         |sc AS (SELECT doc_id,
         |         ((c1 + v) * 1048576) // (c2.c2 + 1) AS q
         |       FROM bi JOIN c2 USING (w1, w2) JOIN uni ON bi.w1 = uni.w, voc),
         |s2 AS (SELECT doc_id, q, length(bin(q)) - 1 AS b FROM sc),
         |s3 AS (SELECT doc_id,
         |         CAST((b - 20) * 1000 AS BIGINT)
         |           + ((q - (CAST(1 AS BIGINT) << b)) * 1000)
         |             // (CAST(1 AS BIGINT) << b) AS mb
         |       FROM s2)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |       CAST(SUM(mb) AS BIGINT) AS sum_millibits,
         |       CAST(SUM(mb) AS BIGINT) // COUNT(*) AS avg_millibits
         |FROM s3 GROUP BY doc_id""".stripMargin),
    QueryDef("text_chunk", textChunk,
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
         |        1 + CASE WHEN len(toks) > 32
         |              THEN (CAST(len(toks) AS BIGINT) - 32 + 23) // 24
         |              ELSE 0 END AS n_chunks
         |      FROM t),
         |c AS (SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS i FROM n),
         |s AS (SELECT doc_id, i AS chunk_idx, 1 + i * 24 AS start_tok,
         |        list_slice(toks, 1 + i * 24,
         |          LEAST(1 + i * 24 + 31, n)) AS chunk
         |      FROM c)
         |SELECT doc_id, chunk_idx, start_tok,
         |  CAST(len(chunk) AS BIGINT) AS n_tok,
         |  ${foldSql("array_to_string(chunk, ' ')")} AS fp
         |FROM s""".stripMargin),
    QueryDef("curate_chunk_dedup", curateChunkDedup,
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |n AS (SELECT doc_id, source, toks, CAST(len(toks) AS BIGINT) AS n,
         |        1 + CASE WHEN len(toks) > 32
         |              THEN (CAST(len(toks) AS BIGINT) - 32 + 23) // 24
         |              ELSE 0 END AS n_chunks
         |      FROM t),
         |c AS (SELECT doc_id, source, toks, n, unnest(range(0, n_chunks)) AS i FROM n),
         |f AS (SELECT source,
         |        ${foldSql("array_to_string(list_slice(toks, 1 + i * 24, LEAST(1 + i * 24 + 31, n)), ' ')")} AS fp
         |      FROM c),
         |g AS (SELECT source, fp, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY 1, 2)
         |SELECT source, CAST(SUM(c) AS BIGINT) AS n_chunks,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_in_dup_groups,
         |  (1000 * (CAST(SUM(c) AS BIGINT) - COUNT(*))) // CAST(SUM(c) AS BIGINT) AS dup_milli
         |FROM g GROUP BY 1""".stripMargin),
    QueryDef("text_heaps", textHeaps,
      s"""WITH f AS (SELECT tok, MIN(doc_id) AS first_doc
         |           FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |           GROUP BY 1),
         |b AS (SELECT CAST(length(bin(first_doc + 1)) - 1 AS BIGINT) AS b,
         |        CAST(COUNT(*) AS BIGINT) AS n_new
         |      FROM f GROUP BY 1)
         |SELECT a.b AS log2_docs, MAX(a.n_new) AS n_new,
         |  CAST(SUM(c.n_new) AS BIGINT) AS vocab_cum
         |FROM b a JOIN b c ON c.b <= a.b
         |GROUP BY 1""".stripMargin),
    QueryDef("curate_source_drift", curateSourceDrift,
      s"""WITH t AS (SELECT source, unnest($toksSql) AS tok FROM documents),
         |by_src AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_s
         |           FROM t GROUP BY 1, 2),
         |src_n AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS n_s,
         |            CAST(COUNT(*) AS BIGINT) AS n_distinct_s
         |          FROM by_src GROUP BY 1),
         |gtok AS (SELECT tok, CAST(SUM(c_s) AS BIGINT) AS c_g FROM by_src GROUP BY 1),
         |n_t AS (SELECT CAST(SUM(c_g) AS BIGINT) AS n FROM gtok),
         |grid AS (SELECT s.source, s.n_s, s.n_distinct_s, g.tok, g.c_g, n_t.n
         |         FROM src_n s, gtok g, n_t),
         |terms AS (SELECT grid.source, grid.n_s, grid.n_distinct_s, grid.n,
         |            abs(CAST(COALESCE(by_src.c_s, 0) AS HUGEINT) * grid.n -
         |                CAST(grid.c_g AS HUGEINT) * grid.n_s) AS term
         |          FROM grid LEFT JOIN by_src
         |            ON by_src.source = grid.source AND by_src.tok = grid.tok)
         |SELECT source, MAX(n_s) AS n_tokens, MAX(n_distinct_s) AS n_distinct,
         |  CAST(CAST(1000 AS HUGEINT) * SUM(term) //
         |    (2 * CAST(MAX(n_s) AS HUGEINT) * MAX(n)) AS BIGINT) AS tvd_vs_corpus_milli
         |FROM terms GROUP BY source""".stripMargin),
    QueryDef("text_feature_hash", textFeatureHash,
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |hb AS (SELECT doc_id, ${foldSql("tok")} % 64 AS bucket,
         |         CAST(COUNT(*) AS BIGINT) AS c
         |       FROM t GROUP BY 1, 2),
         |h AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS used_buckets,
         |        CAST(SUM(c * c) AS BIGINT) AS hashed_norm_sq
         |      FROM hb GROUP BY 1),
         |eb AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM t GROUP BY 1, 2),
         |e AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
         |        CAST(SUM(c) AS BIGINT) AS n_tokens,
         |        CAST(SUM(c * c) AS BIGINT) AS exact_norm_sq
         |      FROM eb GROUP BY 1)
         |SELECT doc_id, n_tokens, n_distinct_tokens, used_buckets,
         |       exact_norm_sq, hashed_norm_sq,
         |       (1000 * hashed_norm_sq) // exact_norm_sq AS distortion_milli
         |FROM e JOIN h USING (doc_id)""".stripMargin),
    // ASCII-corpus assumption (round-11 advice): the Spark kernel
    // counts Unicode CODE POINTS (codePointAt/charCount — pinned with
    // supplementary characters in SqlFunctionsSpec), while DuckDB's
    // string_split(text, '') unit for supplementary characters is the
    // engine's own grapheme/char notion — the two agree on the
    // generated ASCII corpus, which is what this oracle compares. A
    // non-ASCII corpus would need the oracle respelled over DuckDB
    // code-point semantics before trusting the hash gate.
    QueryDef("text_entropy", textEntropy,
      """WITH ch AS (SELECT doc_id, lang, unnest(string_split(text, '')) AS c
        |            FROM documents),
        |cnt AS (SELECT doc_id, lang, c, CAST(COUNT(*) AS BIGINT) AS k
        |        FROM ch GROUP BY 1, 2, 3),
        |n_t AS (SELECT doc_id, lang, CAST(SUM(k) AS BIGINT) AS n_cp,
        |          CAST(COUNT(*) AS BIGINT) AS distinct_chars
        |        FROM cnt GROUP BY 1, 2),
        |e AS (SELECT cnt.doc_id, cnt.lang, n_t.n_cp, n_t.distinct_chars,
        |        CAST(SUM(k * (length(bin(n_t.n_cp // k)) - 1)) AS BIGINT)
        |          AS entropy_bound_bits
        |      FROM cnt JOIN n_t USING (doc_id, lang) GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, lang, n_cp, distinct_chars, entropy_bound_bits,
        |       (1000 * entropy_bound_bits) // n_cp AS milli_bits_per_char
        |FROM e""".stripMargin),
    QueryDef("text_rake", textRake,
      s"""WITH tk_t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |t AS (SELECT doc_id, unnest(tk) AS tok,
         |             unnest(range(1, len(tk)+1)) AS pos FROM tk_t),
         |ns AS (SELECT doc_id, tok, pos FROM t
         |       WHERE tok NOT IN ('the', 'a', 'data', 'table')),
         |r AS (SELECT doc_id, tok, pos,
         |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
         |      FROM ns),
         |ph AS (SELECT doc_id, g, string_agg(tok, ' ' ORDER BY pos) AS phrase,
         |         CAST(COUNT(*) AS BIGINT) AS n_words
         |       FROM r GROUP BY 1, 2),
         |pw AS (SELECT n_words, unnest(string_split(phrase, ' ')) AS wd FROM ph),
         |ws AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS freq,
         |         CAST(SUM(n_words) AS BIGINT) AS deg FROM pw GROUP BY 1),
         |pd AS (SELECT phrase, n_words, CAST(COUNT(*) AS BIGINT) AS n_occur
         |       FROM ph GROUP BY 1, 2),
         |pdw AS (SELECT phrase, n_words, n_occur,
         |          unnest(string_split(phrase, ' ')) AS wd FROM pd)
         |SELECT phrase, n_words, n_occur,
         |  CAST(SUM(CAST(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)
         |    AS DECIMAL(38,6))) AS DOUBLE) AS score
         |FROM pdw JOIN ws USING (wd)
         |GROUP BY 1, 2, 3
         |HAVING n_words >= 2 AND n_occur >= 3""".stripMargin),
    QueryDef("curate_data_card", curateDataCard,
      s"""WITH g AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS docs,
         |             CAST(SUM(len($toksSql)) AS BIGINT) AS toks
         |           FROM documents GROUP BY 1, 2),
         |t AS (SELECT CAST(SUM(toks) AS BIGINT) AS total FROM g)
         |SELECT g.lang, g.source, g.docs, g.toks,
         |  CAST(g.toks * 1000000 // t.total AS BIGINT) AS share_ppm,
         |  CAST(row_number() OVER (ORDER BY g.toks DESC, g.lang, g.source)
         |    AS BIGINT) AS rnk
         |FROM g, t""".stripMargin),
    QueryDef("text_bpe_train", textBpeTrain, bpeTrainOracleSql(6)),
    QueryDef("text_bpe_apply", textBpeApply, bpeApplyOracleSql(6)),
    QueryDef("text_bpe_heldout", textBpeHeldout, bpeHeldoutOracleSql(6)),
    QueryDef("text_bpe_merge_step", textBpeMergeStep,
      s"""WITH words AS (SELECT token AS w, CAST(COUNT(*) AS BIGINT) AS cnt
         |               FROM (SELECT unnest($toksSql) AS token FROM documents)
         |               GROUP BY 1),
         |spaced AS (SELECT w, cnt,
         |             array_to_string(string_split(w, ''), ' ') AS rep FROM words),
         |prs AS (SELECT s.cnt,
         |          string_split(s.rep, ' ')[i] || ' ' ||
         |            string_split(s.rep, ' ')[i + 1] AS pair
         |        FROM spaced s,
         |          LATERAL (SELECT unnest(range(1,
         |            len(string_split(s.rep, ' ')))) AS i) ii),
         |pcnt AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pcount
         |         FROM prs GROUP BY 1),
         |top AS (SELECT pair, pcount FROM pcnt ORDER BY pcount DESC, pair LIMIT 1)
         |SELECT s.w, s.cnt, t.pair AS merged_pair, t.pcount,
         |       replace(s.rep, t.pair, replace(t.pair, ' ', '')) AS new_rep
         |FROM spaced s CROSS JOIN top t""".stripMargin),
    QueryDef("curate_gopher", curateGopher,
      s"""WITH tk_t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |base AS (SELECT doc_id,
         |    CAST(len(tk) AS BIGINT) AS n_words,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(tk, t -> CAST(len(t) AS BIGINT))),
         |      (a, b) -> a + b) AS BIGINT) AS sum_word_chars,
         |    CAST(len(list_filter(tk,
         |      t -> t IN ('the','a','data','table'))) AS BIGINT) AS stop_hits,
         |    list_transform(range(0, (len(tk)-1)//5 + 1),
         |      i -> array_to_string(tk[i*5+1 : i*5+5], ' ')) AS lines,
         |    CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
         |      i -> tk[i] || ' ' || tk[i+1]) ELSE [] END AS bigs
         |  FROM tk_t),
         |sig AS (SELECT doc_id, n_words, sum_word_chars, stop_hits,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS dup_lines,
         |    CAST(COALESCE(list_max(list_transform(list_distinct(bigs),
         |      b -> len(list_filter(bigs, x -> x = b)))), 0) AS BIGINT) AS max_bigram
         |  FROM base)
         |SELECT doc_id, n_words, sum_word_chars, stop_hits, n_lines, dup_lines,
         |  max_bigram,
         |  (n_words >= 50 AND n_words <= 100000) AS ok_count,
         |  (3*n_words <= sum_word_chars AND sum_word_chars <= 10*n_words) AS ok_mwl,
         |  stop_hits >= 2 AS ok_stop,
         |  10*dup_lines <= 3*n_lines AS ok_dupline,
         |  10*max_bigram <= n_words AS ok_bigram,
         |  (n_words >= 50 AND n_words <= 100000 AND 3*n_words <= sum_word_chars
         |   AND sum_word_chars <= 10*n_words AND stop_hits >= 2
         |   AND 10*dup_lines <= 3*n_lines AND 10*max_bigram <= n_words) AS pass
         |FROM sig""".stripMargin),
    QueryDef("curate_domain_cap", curateDomainCap,
      """WITH r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
        |  FROM documents),
        |t AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1)
        |SELECT doc_id, r.source AS source, rk, n_source
        |FROM r JOIN t ON r.source = t.source
        |WHERE rk <= 10""".stripMargin),
    QueryDef("curate_mix", curateMix,
      s"""WITH d AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |  ${foldSql("text")} % 100 AS h
         |  FROM documents),
         |s AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS a_tokens FROM d GROUP BY lang),
         |t AS (SELECT CAST(SUM(a_tokens) AS BIGINT) AS t_tokens FROM s),
         |r AS (SELECT lang AS r_lang, a_tokens,
         |        LEAST(CAST(100 AS BIGINT),
         |          (CASE WHEN lang = 'en' THEN 20 ELSE 10 END * t_tokens) // a_tokens) AS rate_pct
         |      FROM s, t)
         |SELECT lang, CAST(MIN(rate_pct) AS BIGINT) AS rate_pct,
         |       CAST(MIN(a_tokens) AS BIGINT) AS a_tokens,
         |       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
         |FROM d JOIN r ON lang = r_lang WHERE h < rate_pct GROUP BY lang""".stripMargin),
    QueryDef("curate_split", curateSplit,
      s"""WITH h_t AS (SELECT lang,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |  ${foldSql("text")} % 100 AS h
         |  FROM documents),
         |s_t AS (SELECT lang, n_tokens,
         |  CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split
         |  FROM h_t)
         |SELECT split, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |FROM s_t GROUP BY split, lang""".stripMargin),
    QueryDef("curate_dsir", curateDsir,
      s"""WITH tk_t AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
         |bg AS (SELECT doc_id, lang,
         |  unnest(CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i+1]) ELSE [] END) AS s FROM tk_t),
         |g AS (SELECT doc_id, lang,
         |  ${foldSql("s")} % 512 AS b FROM bg),
         |dist AS (SELECT b, COUNT(*) AS r_cnt,
         |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_cnt
         |  FROM g GROUP BY b),
         |w_t AS (SELECT b, CAST((t_cnt + 1) * 1000000 // (r_cnt + 1) AS BIGINT) AS w
         |  FROM dist),
         |m AS (SELECT CAST(SUM(w) // COUNT(*) AS BIGINT) AS mean_w FROM w_t),
         |sc AS (SELECT doc_id, lang, COUNT(*) AS n_bigrams,
         |  CAST(SUM(w) AS BIGINT) AS score FROM g JOIN w_t USING (b)
         |  GROUP BY doc_id, lang)
         |SELECT doc_id, lang, n_bigrams, score,
         |  CAST(CASE WHEN score > n_bigrams * mean_w THEN 1 ELSE 0 END AS BIGINT)
         |    AS selected
         |FROM sc, m""".stripMargin),
    QueryDef("curate_e2e", curateE2e,
      s"""WITH tk_t AS (SELECT doc_id,
         |  list_concat(['nav','home',source,'menu','login'], $toksSql) AS tk
         |  FROM documents),
         |ln0 AS (SELECT doc_id, tk,
         |  unnest(range(0, (len(tk) - 1) // 5 + 1)) AS line_no FROM tk_t),
         |ln AS (SELECT doc_id, CAST(line_no AS BIGINT) AS line_no,
         |  array_to_string(tk[line_no*5+1 : line_no*5+5], ' ') AS line FROM ln0),
         |fp_t AS (SELECT doc_id, line_no, line, ${foldSql("line")} AS lfp FROM ln),
         |d_t AS (SELECT lfp, COUNT(DISTINCT doc_id) AS df FROM fp_t GROUP BY lfp),
         |r AS (SELECT doc_id,
         |        COALESCE(string_agg(CASE WHEN df < 5 THEN line END, ' '
         |          ORDER BY line_no), '') AS kept_text
         |      FROM fp_t JOIN d_t USING (lfp) GROUP BY doc_id),
         |g0 AS (SELECT r.doc_id AS doc_id, lang, kept_text,
         |        list_filter(string_split(kept_text, ' '), t -> t <> '') AS ktk
         |      FROM r JOIN documents USING (doc_id)
         |      WHERE len(list_filter(string_split(kept_text, ' '), t -> t <> '')) >= 10),
         |bg AS (SELECT doc_id, lang,
         |  unnest(CASE WHEN len(ktk) >= 2 THEN list_transform(range(1, len(ktk)),
         |    i -> ktk[i] || ' ' || ktk[i+1]) ELSE [] END) AS s FROM g0),
         |g AS (SELECT doc_id, lang, ${foldSql("s")} % 512 AS b FROM bg),
         |dist AS (SELECT b, COUNT(*) AS r_cnt,
         |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_cnt
         |  FROM g GROUP BY b),
         |w_t AS (SELECT b, CAST((t_cnt + 1) * 1000000 // (r_cnt + 1) AS BIGINT) AS w
         |  FROM dist),
         |m AS (SELECT CAST(SUM(w) // COUNT(*) AS BIGINT) AS mean_w FROM w_t),
         |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(w) AS BIGINT) AS score FROM g JOIN w_t USING (b)
         |  GROUP BY doc_id),
         |sel AS (SELECT g0.doc_id, g0.lang, g0.kept_text,
         |        CAST(len(g0.ktk) AS BIGINT) AS n_tokens
         |      FROM g0 JOIN sc USING (doc_id), m
         |      WHERE score > n_bigrams * mean_w)
         |SELECT CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val'
         |         ELSE 'test' END AS split, lang,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |FROM (SELECT lang, n_tokens, ${foldSql("kept_text")} % 100 AS h FROM sel)
         |GROUP BY 1, 2""".stripMargin),
    QueryDef("curate_line_dedup", curateLineDedup,
      s"""WITH tk_t AS (SELECT doc_id,
         |  list_concat(['nav','home',source,'menu','login'], $toksSql) AS tk
         |  FROM documents),
         |ln0 AS (SELECT doc_id, tk,
         |  unnest(range(0, (len(tk) - 1) // 5 + 1)) AS line_no FROM tk_t),
         |ln AS (SELECT doc_id, CAST(line_no AS BIGINT) AS line_no,
         |  array_to_string(tk[line_no*5+1 : line_no*5+5], ' ') AS line FROM ln0),
         |fp AS (SELECT doc_id, line_no, line,
         |  ${foldSql("line")} AS lfp FROM ln),
         |d_t AS (SELECT lfp, COUNT(DISTINCT doc_id) AS df FROM fp GROUP BY lfp),
         |r AS (SELECT doc_id, COUNT(*) AS n_lines,
         |        CAST(SUM(CASE WHEN df >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_lines,
         |        COALESCE(string_agg(CASE WHEN df < 5 THEN line END, ' ' ORDER BY line_no), '') AS kept_text
         |      FROM fp JOIN d_t USING (lfp) GROUP BY doc_id)
         |SELECT doc_id, n_lines,
         |  CAST(n_lines - dropped_lines AS BIGINT) AS kept_lines, dropped_lines,
         |  CASE WHEN kept_text = '' THEN CAST(0 AS BIGINT) ELSE
         |    ${foldSql("kept_text")} END AS new_fp
         |FROM r""".stripMargin),
    QueryDef("curate_novelty", curateNovelty,
      s"""WITH tk_t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |sh_t AS (SELECT doc_id, CASE WHEN len(tk) >= 5 THEN list_transform(range(1, len(tk) - 3),
         |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])
         |  ELSE [] END AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_distinct(list_transform(sh, s ->
         |  ${foldSql("s")})) AS fps FROM sh_t),
         |g AS (SELECT doc_id, unnest(fps) AS fp FROM fp_t),
         |f_t AS (SELECT fp, MIN(doc_id) AS first_doc FROM g GROUP BY fp)
         |SELECT g.doc_id, COUNT(*) AS n_grams,
         |  CAST(SUM(CASE WHEN first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST((1000 * SUM(CASE WHEN first_doc = g.doc_id THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
         |    AS novelty_milli
         |FROM g JOIN f_t USING (fp) GROUP BY g.doc_id""".stripMargin),
    QueryDef("curate_boilerplate", curateBoilerplate,
      s"""WITH tk_t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |sh_t AS (SELECT doc_id, CASE WHEN len(tk) >= 5 THEN list_transform(range(1, len(tk) - 3),
         |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])
         |  ELSE [] END AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_distinct(list_transform(sh, s ->
         |  ${foldSql("s")})) AS fps FROM sh_t),
         |g AS (SELECT doc_id, unnest(fps) AS fp FROM fp_t),
         |d_t AS (SELECT fp, COUNT(*) AS df FROM g GROUP BY fp)
         |SELECT doc_id, n_grams, n_shared,
         |       CAST(n_shared AS DOUBLE) / n_grams AS shared_ratio
         |FROM (SELECT g.doc_id, COUNT(*) AS n_grams,
         |        CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |      FROM g JOIN d_t USING (fp) GROUP BY g.doc_id)""".stripMargin),
    QueryDef("curate_pack", curatePack,
      s"""WITH t AS (SELECT doc_id, lang, doc_id // 2000 AS shard,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, lang, shard, n_tokens,
         |        SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum FROM t),
         |b AS (SELECT lang, shard,
         |        CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin,
         |        n_tokens, doc_id FROM c)
         |SELECT lang, shard, bin, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens, MIN(doc_id) AS first_doc
         |FROM b GROUP BY lang, shard, bin""".stripMargin),
    QueryDef("curate_sources", curateSources,
      s"""WITH s1 AS (SELECT source,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |  $qualitySql AS quality,
         |  ${foldSql("text")} AS fp
         |  FROM documents)
         |SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_distinct,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(CAST(quality AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mean_quality,
         |  1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*) AS dup_ratio
         |FROM s1 GROUP BY source""".stripMargin),
    QueryDef("curate_curriculum", curateCurriculum,
      s"""WITH b AS (SELECT doc_id,
         |  LEAST(${markerSql(Seq("the", "a", "data", "table"))}, 3) AS band,
         |  ${foldSql("text")} % 1000000 AS h,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens
         |FROM documents)
         |SELECT CAST(row_number() OVER (ORDER BY 3 - band, h, doc_id) AS BIGINT) AS pos,
         |       doc_id, band, n_tokens
         |FROM b""".stripMargin),
    QueryDef("text_ngram_lm", textNgramLm,
      s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |uni AS (SELECT w, COUNT(*) AS c1
         |        FROM (SELECT unnest(tk) AS w FROM tk) GROUP BY w),
         |voc AS (SELECT COUNT(*) AS v FROM uni),
         |bi AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2
         |       FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |               i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))) AS b
         |             FROM tk)),
         |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
         |sc AS (SELECT doc_id, CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE) AS p
         |       FROM bi JOIN c2 USING (w1, w2) JOIN uni ON bi.w1 = uni.w, voc)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |       CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_p,
         |       CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
         |         < CAST(0.0315 AS DOUBLE) AS flagged
         |FROM sc GROUP BY doc_id""".stripMargin),
    QueryDef("text_bm25", textBm25,
      s"""WITH q(query_id, token) AS (
         |  SELECT CAST(query_id AS BIGINT), token FROM (VALUES
         |    (1,'spark'),(1,'join'),(2,'hash'),(2,'table'),
         |    (3,'stream'),(3,'batch'),(3,'window')) v(query_id, token)),
         |tf_t AS (SELECT doc_id, token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
         |  GROUP BY doc_id, token),
         |dl_t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS dl FROM documents),
         |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl_t),
         |df_t AS (SELECT token, COUNT(*) AS df FROM tf_t
         |         WHERE token IN (SELECT token FROM q) GROUP BY token),
         |sc AS (SELECT q.query_id, t.doc_id,
         |  CAST(CAST(ln(((n_docs - df) + CAST(0.5 AS DOUBLE))
         |        / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
         |      AS DECIMAL(38,6)) AS DOUBLE)
         |  * ((tf * CAST(2.2 AS DOUBLE))
         |     / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
         |        + CAST(0.75 AS DOUBLE) * (dl / (CAST(total_dl AS DOUBLE) / n_docs)))))
         |    AS contrib
         |  FROM tf_t t JOIN q ON t.token = q.token JOIN df_t ON t.token = df_t.token
         |       JOIN dl_t ON t.doc_id = dl_t.doc_id, st),
         |agg AS (SELECT query_id, doc_id,
         |          CAST(SUM(CAST(contrib AS DECIMAL(38,6))) AS DOUBLE) AS score
         |        FROM sc GROUP BY query_id, doc_id)
         |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
         |         ORDER BY score DESC, doc_id) AS BIGINT) AS rk, doc_id, score
         |FROM agg QUALIFY rk <= 5""".stripMargin),
    QueryDef("text_tfidf", textTfidf,
      s"""WITH tf_t AS (SELECT doc_id, token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
         |  GROUP BY doc_id, token),
         |df_t AS (SELECT token, COUNT(*) AS df FROM tf_t GROUP BY token),
         |n_t AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id
         |         ORDER BY tfidf DESC, token) AS BIGINT) AS rk,
         |       token, tf, df, tfidf
         |FROM (SELECT doc_id, token, tf, df,
         |        CAST(tf AS DOUBLE) * n_docs / df AS tfidf
         |      FROM tf_t JOIN df_t USING (token), n_t)
         |QUALIFY rk <= 3""".stripMargin),
    QueryDef("curate_decontaminate", curateDecontaminate,
      s"""WITH tk_t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |sh_t AS (SELECT doc_id, CASE WHEN len(tk) >= 5 THEN list_transform(range(1, len(tk) - 3),
         |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])
         |  ELSE [] END AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_distinct(list_transform(sh, s ->
         |  ${foldSql("s")})) AS fps FROM sh_t),
         |g AS (SELECT doc_id, unnest(fps) AS fp FROM fp_t),
         |bench AS (SELECT DISTINCT fp FROM g WHERE doc_id % 97 = 0)
         |SELECT g.doc_id, COUNT(*) AS n_hits
         |FROM g JOIN bench USING (fp) GROUP BY g.doc_id""".stripMargin),
    QueryDef("text_repetition", textRepetition,
      s"""WITH tk_t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |sh_t AS (SELECT doc_id, CASE WHEN len(tk) >= 3 THEN list_transform(range(1, len(tk) - 1),
         |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) ELSE [] END AS sh FROM tk_t),
         |fp_t AS (SELECT doc_id, list_transform(sh, s ->
         |  ${foldSql("s")}) AS fps FROM sh_t)
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_grams,
         |  CAST(len(list_distinct(fps)) AS BIGINT) AS n_distinct,
         |  1.0 - CAST(len(list_distinct(fps)) AS BIGINT) / CAST(len(fps) AS BIGINT) AS rep_ratio
         |FROM fp_t WHERE len(fps) > 0""".stripMargin),
    QueryDef("curate_sample", curateSample,
      s"""WITH h_t AS (SELECT doc_id, lang,
         |  CASE WHEN lang = 'en' THEN 40 ELSE 15 END AS rate,
         |  ${foldSql("text")} % 100 AS h
         |  FROM documents)
         |SELECT lang, CAST(rate AS BIGINT) AS rate, COUNT(*) AS n_sampled,
         |       MIN(doc_id) AS first_doc
         |FROM h_t WHERE h < rate GROUP BY lang, rate""".stripMargin),
    QueryDef("curate_neyman_sample", curateNeymanSample,
      s"""WITH d AS MATERIALIZED (SELECT doc_id, lang, n_chars,
         |    ${foldSql("text")} % 1000000 AS h
         |  FROM documents),
         |a AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS sx,
         |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
         |  FROM d GROUP BY 1),
         |s AS (SELECT lang, n_docs,
         |    CAST(floor(sqrt((n_docs * sxx - sx * sx) // (n_docs * n_docs)))
         |      AS BIGINT) AS s_int
         |  FROM a),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
         |    CAST(SUM(n_docs * s_int) AS BIGINT) AS mass FROM s),
         |al AS (SELECT s.lang, s.n_docs, s.s_int,
         |    ((tot.n_total // 10) * s.n_docs * s.s_int)
         |      // GREATEST(tot.mass, 1) AS alloc
         |  FROM s CROSS JOIN tot),
         |rk AS (SELECT lang, n_chars, row_number() OVER (
         |    PARTITION BY lang ORDER BY h, doc_id) AS rk
         |  FROM d)
         |SELECT al.lang, al.n_docs, al.s_int, al.alloc,
         |  CAST(COUNT(*) AS BIGINT) AS n_picked,
         |  CAST(SUM(rk.n_chars) AS BIGINT) AS picked_chars
         |FROM rk JOIN al ON rk.lang = al.lang AND rk.rk <= al.alloc
         |GROUP BY 1, 2, 3, 4""".stripMargin),
    QueryDef("curate_pps_sample", curatePpsSample,
      s"""WITH h_t AS (SELECT doc_id, n_chars,
         |  CAST(len($toksSql) AS BIGINT) AS tok_n,
         |  ${foldSql("text")} % 2000 AS h
         |  FROM documents)
         |SELECT doc_id, n_chars, tok_n,
         |       CAST(tok_n * 2000 AS DOUBLE) / CAST(n_chars AS DOUBLE) AS ht_contrib
         |FROM h_t WHERE h < n_chars""".stripMargin),
    QueryDef("text_collocations", textCollocations,
      s"""WITH tk_t AS (SELECT $toksSql AS tk FROM documents),
         |uni AS (SELECT w, COUNT(*) AS c1 FROM (SELECT unnest(tk) AS w FROM tk_t) GROUP BY 1),
         |n_t AS (SELECT COUNT(*) AS n FROM (SELECT unnest(tk) AS w FROM tk_t)),
         |bi AS (SELECT b.w1, b.w2, COUNT(*) AS cxy FROM (
         |         SELECT unnest(CASE WHEN len(tk) >= 2 THEN
         |           list_transform(range(1, len(tk)), i -> {'w1': tk[i], 'w2': tk[i+1]})
         |           ELSE [] END) AS b FROM tk_t)
         |       GROUP BY 1, 2 HAVING COUNT(*) >= 5),
         |sc AS (SELECT w1, w2, cxy, ux.c1 AS cx, uy.c1 AS cy,
         |         CAST(cxy * n AS DOUBLE) / CAST(ux.c1 * uy.c1 AS DOUBLE) AS lift
         |       FROM bi JOIN uni ux ON bi.w1 = ux.w JOIN uni uy ON bi.w2 = uy.w, n_t)
         |SELECT w1, w2, cxy, cx, cy, lift,
         |       row_number() OVER (ORDER BY lift DESC, w1, w2) AS rank
         |FROM sc QUALIFY rank <= 10""".stripMargin),
    QueryDef("text_inverted_index", textInvertedIndex,
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents)
         |SELECT term, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS cf,
         |  array_to_string(list_transform(
         |    list_sort(list_distinct(list(doc_id)))[1:10],
         |    v -> CAST(v AS VARCHAR)), ',') AS postings
         |FROM tok GROUP BY term""".stripMargin),
    QueryDef("text_redact", textRedact,
      s"""WITH pii AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z0-9]+\\.[a-z]+')) AS BIGINT) AS n_emails,
         |  ${foldSql("regexp_replace(text, '[a-z0-9]+@[a-z0-9]+\\.[a-z]+', '[EMAIL]', 'g')")} AS redacted_fp
         |FROM pii""".stripMargin),
    QueryDef("curate_pipeline", curatePipeline,
      s"""WITH corpus AS (SELECT doc_id, text, n_chars FROM documents
         |                UNION ALL SELECT doc_id + 1000000, text, n_chars FROM documents),
         |s1 AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |         ${TextOps.langMarkers.map { case (l, ws) => s"${markerSql(ws)} AS score_$l" }.mkString(", ")},
         |         $qualitySql AS quality,
         |         ${foldSql("text")} AS fp
         |       FROM corpus),
         |s2 AS (SELECT *,
         |         GREATEST(${TextOps.langMarkers.map { case (l, _) => s"score_$l" }.mkString(", ")}) AS best
         |       FROM s1),
         |s3 AS (SELECT doc_id, n_tokens, quality, fp, $langCase AS pred_lang FROM s2),
         |f AS (SELECT * FROM s3 WHERE quality >= 0.5 AND pred_lang <> 'und'),
         |k AS (SELECT fp, pred_lang, MIN(doc_id) AS doc_id, MIN(n_tokens) AS n_tokens
         |      FROM f GROUP BY fp, pred_lang)
         |SELECT pred_lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |FROM k GROUP BY pred_lang""".stripMargin),
    QueryDef("text_stats", textStats,
      s"""SELECT doc_id, n_chars,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |  CAST(list_sum(list_transform($toksSql, t -> CAST(length(t) AS BIGINT))) AS BIGINT)
         |    / CAST(len($toksSql) AS BIGINT) AS avg_token_len,
         |  CAST(len(list_filter($toksSql, t -> t IN ('the','a'))) AS BIGINT)
         |    / CAST(len($toksSql) AS BIGINT) AS stop_ratio,
         |  CAST(len(list_distinct($toksSql)) AS BIGINT)
         |    / CAST(len($toksSql) AS BIGINT) AS distinct_ratio
         |FROM documents""".stripMargin),
    QueryDef("text_fingerprint", textFingerprint,
      s"""SELECT doc_id,
        |  ${foldSql("text")} AS fp
        |FROM documents""".stripMargin),
    QueryDef("text_langid_confusion", textLangidConfusion,
      s"""WITH p AS (
         |  SELECT lang, $langCase AS pred_lang
         |  FROM (SELECT *,
         |          GREATEST(${TextOps.langMarkers.map { case (l, _) => s"score_$l" }.mkString(", ")}) AS best
         |        FROM (SELECT doc_id, lang,
         |                ${TextOps.langMarkers.map { case (l, ws) => s"${markerSql(ws)} AS score_$l" }.mkString(", ")}
         |              FROM documents))),
         |cm AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM p GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS lang_total
         |        FROM cm GROUP BY 1)
         |SELECT lang, pred_lang, n, lang_total, lang = pred_lang AS is_diagonal
         |FROM cm JOIN tot USING (lang)""".stripMargin),
    QueryDef("text_lang_id", textLangId,
      s"""SELECT doc_id, lang, $langCase AS pred_lang
         |FROM (SELECT *,
         |        GREATEST(${TextOps.langMarkers.map { case (l, _) => s"score_$l" }.mkString(", ")}) AS best
         |      FROM (SELECT doc_id, lang,
         |              ${TextOps.langMarkers.map { case (l, ws) => s"${markerSql(ws)} AS score_$l" }.mkString(", ")}
         |            FROM documents))""".stripMargin),
    QueryDef("text_quality", textQuality,
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
         |  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
         |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) / n_chars AS punct_ratio,
         |  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) / n_chars AS digit_ratio,
         |  CAST(len(list_filter($toksSql, t -> t IN ('the','a','data','table'))) AS BIGINT)
         |    / CAST(len($toksSql) AS BIGINT) AS stop_ratio,
         |  GREATEST(0.0, LEAST(1.0,
         |    0.5 + CAST(len(list_filter($toksSql, t -> t IN ('the','a','data','table'))) AS BIGINT)
         |            / CAST(len($toksSql) AS BIGINT)
         |        - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) / n_chars * 2
         |        - CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) / n_chars)) AS quality
         |FROM documents""".stripMargin),
    QueryDef("text_bpe_tokens", textBpeTokens,
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS BIGINT) AS n_ws,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_alpha
         |FROM documents""".stripMargin),
    QueryDef("text_readability", textReadability,
      s"""WITH r AS (SELECT doc_id,
         |    CAST(len($toksSql) AS BIGINT) AS n_words,
         |    GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
         |      CAST(1 AS BIGINT)) AS n_sents,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS n_syl
         |  FROM documents),
         |m AS (SELECT doc_id, n_words, n_sents, n_syl,
         |        (1000 * n_words) // n_sents AS wps_milli,
         |        (1000 * n_syl) // n_words AS spw_milli
         |      FROM r WHERE n_words > 0)
         |SELECT doc_id, n_words, n_sents, n_syl, wps_milli, spw_milli,
         |  CASE WHEN wps_milli > 25000 OR spw_milli > 1600 THEN 'hard'
         |       WHEN wps_milli < 12000 AND spw_milli < 1300 THEN 'easy'
         |       ELSE 'mid' END AS band
         |FROM m""".stripMargin),
    QueryDef("text_zipf", textZipf, {
      def mbLess20Sql(q: String): String =
        s"CAST((length(bin($q)) - 1 - 20) * 1000 AS BIGINT) + " +
          s"(($q - (CAST(1 AS BIGINT) << (length(bin($q)) - 1))) * 1000) // " +
          s"(CAST(1 AS BIGINT) << (length(bin($q)) - 1))"
      s"""WITH freq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
         |        FROM (SELECT unnest($toksSql) AS token FROM documents)
         |        GROUP BY token),
         |top AS (SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
         |          AS rank, cnt
         |        FROM freq QUALIFY rank <= 64),
         |m AS (SELECT ${mbLess20Sql("(rank * 1048576)")} AS x,
         |             ${mbLess20Sql("(cnt * 1048576)")} AS y
         |      FROM top),
         |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |        CAST(SUM(x * y) AS BIGINT) AS sxy,
         |        CAST(SUM(x * x) AS BIGINT) AS sxx,
         |        CAST(SUM(y * y) AS BIGINT) AS syy
         |      FROM m),
         |d AS (SELECT n_tokens,
         |        n_tokens * sxy - sx * sy AS num,
         |        n_tokens * sxx - sx * sx AS denx,
         |        n_tokens * syy - sy * sy AS deny
         |      FROM s)
         |SELECT n_tokens,
         |  CAST(sign(num) AS BIGINT) * CAST((abs(CAST(num AS HUGEINT)) * 1000)
         |    // CAST(denx AS HUGEINT) AS BIGINT) AS slope_milli,
         |  CASE WHEN deny = 0 THEN NULL ELSE
         |    CAST(((1000 * abs(CAST(num AS HUGEINT)) // CAST(denx AS HUGEINT))
         |      * abs(CAST(num AS HUGEINT))) // CAST(deny AS HUGEINT) AS BIGINT) END
         |    AS r2_milli
         |FROM d""".stripMargin
    }),
    QueryDef("curate_fertility", curateFertility,
      s"""WITH t AS (SELECT lang,
         |    CAST(len($toksSql) AS BIGINT) AS n_ws,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
         |      AS BIGINT) AS n_bpe,
         |    CAST(length(text) AS BIGINT) AS n_chars
         |  FROM documents)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_ws) AS BIGINT) AS n_words,
         |  CAST(SUM(n_bpe) AS BIGINT) AS n_subwords,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |  (1000 * CAST(SUM(n_bpe) AS BIGINT))
         |    // greatest(CAST(SUM(n_ws) AS BIGINT), 1) AS fertility_milli,
         |  (1000 * CAST(SUM(n_chars) AS BIGINT))
         |    // greatest(CAST(SUM(n_bpe) AS BIGINT), 1) AS chars_per_subword_milli
         |FROM t GROUP BY lang""".stripMargin),
    QueryDef("text_token_freq", textTokenFreq,
      """SELECT rank, token, cnt FROM (
        |  SELECT token, cnt,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank
        |  FROM (SELECT token, COUNT(*) AS cnt
        |        FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |              FROM documents)
        |        GROUP BY token)
        |) WHERE rank <= 20""".stripMargin))
}
