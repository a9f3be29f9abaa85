package graft.queries

import graft.ext.{MultimodalOps, SimOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/** Multimodal-column suite: the oracle-checkable slice of
  * [[graft.ext.MultimodalOps]]. The binary payload is
  * `encode(text, 'UTF-8')` over `documents` — a real BinaryType column
  * flowing through the real kernels (byte stats, histograms, content
  * hashing); DuckDB reproduces each from the string side (the corpus
  * is ASCII, so bytes == codepoints). The one codec-DEPENDENT operator
  * (decodeToPixels) has no SQL oracle — ScalaTest covers it per the
  * stub contract; frame SAMPLING is pure byte math and is oracle-gated
  * here ([[mmFrames]]).
  */
object MultimodalQueries {

  private def bin(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))

  /** Deterministic NON-UTF8 binary fixture — bytes the text stand-in
    * can never produce, minted per doc_id from pure integer
    * arithmetic so BOTH engines construct the identical blob with no
    * shared file: 4 REAL container magic bytes (PNG 89 50 4E 47 —
    * leading byte ≥ 0x80; ADTS/AAC FF F1 4C 80; MPEG-PS 00 00 01 BA —
    * embedded NULs), wrong for every 11th doc (the sniffing fixture's
    * planted lie), then a 64-byte body of 4×16-byte tiles where tiles
    * 0/2 and 1/3 repeat within a blob and 4 consecutive docs share
    * tile content (duplicated-tile structure), bytes from a
    * MID-SQUARE hash: v = (seed·40503 + (j+1)·104729) mod (2³¹−1),
    * b = bits 23..30 of v² — squaring makes b genuinely nonlinear in
    * BOTH seed and position, which matters twice: (a) any formula
    * affine in j gives every blob the same byte-difference pattern up
    * to phase, collapsing [[mmBinPhash]]'s gradient signs into ~256
    * classes (two such families were prescanned and rejected — 1,898
    * and 50k distinct hashes over 160k blobs vs 24k+ here with
    * bounded classes); (b) the prime modulus keeps tile content
    * unique per seed across the full range (a mod-65537 variant
    * repeated tile classes every 65k seeds; a mod-256 dependence
    * collapsed 1M docs into ~7,800-doc tile classes whose uncapped
    * join ran 20× budget). Prescanned floor: entropy ≥ 3088 millibits
    * over 200k blobs. Every 5th doc is instead a CONSTANT-byte blob
    * (the padding/silence degenerate). Spark builds the blob by
    * hex-printing the same formula through `unhex` (a scan-partition
    * projection — at 100 TB the mint is free beside the scan);
    * [[synthCpsSql]] is the byte-value-list twin the oracle folds
    * over. */
  private def synthBin(spark: SparkSession, sfDir: String,
      keep: Seq[String] = Nil): DataFrame = {
    val shipped = expr(
      "CASE WHEN doc_id % 11 = 0 THEN (doc_id + 1) % 3 ELSE doc_id % 3 END")
    val magicHex = element_at(
      array(lit("89504e47"), lit("fff14c80"), lit("000001ba")),
      (shipped + 1).cast("int"))
    val body = transform(sequence(lit(0L), lit(63L)), i =>
      lpad(lower(hex(
        when(pmod(col("doc_id"), lit(5)) === 0,
          pmod(col("doc_id") * 7, lit(256)))
          .otherwise(pmod(
            shiftright({
              val v = pmod(((col("doc_id") / 4).cast("bigint") * 2 +
                (i / 16).cast("bigint") % 2) * lit(40503L) +
                (pmod(i, lit(16)) + 1) * lit(104729L), lit(2147483647L))
              v * v
            }, 23),
            lit(256))))), 2, "0"))
    load(spark, sfDir, "documents").select(col("doc_id") +:
      unhex(concat(magicHex, array_join(body, ""))).as("content") +:
      keep.map(col): _*)
  }

  /** [[synthBin]]'s byte values as a BIGINT list, for the oracle. */
  private val synthCpsSql: String =
    """list_concat(
      |  list_transform(CASE (CASE WHEN doc_id % 11 = 0 THEN (doc_id + 1) % 3
      |                       ELSE doc_id % 3 END)
      |     WHEN 0 THEN [137, 80, 78, 71]
      |     WHEN 1 THEN [255, 241, 76, 128]
      |     ELSE [0, 0, 1, 186] END, x -> CAST(x AS BIGINT)),
      |  list_transform(range(0, 64), i ->
      |    CASE WHEN doc_id % 5 = 0 THEN (doc_id * 7) % 256
      |         ELSE (((((doc_id // 4) * 2 + ((i // 16) % 2)) * 40503
      |                  + ((i % 16) + 1) * 104729) % 2147483647)
      |                * ((((doc_id // 4) * 2 + ((i // 16) % 2)) * 40503
      |                  + ((i % 16) + 1) * 104729) % 2147483647)
      |                // 8388608) % 256 END))""".stripMargin

  /** Blob metadata projection: byte length + content hash — the
    * dedup/integrity primitives for any media column (md5 on the raw
    * bytes is exactly how image dedup keys are built at scale). */
  def mmMeta(spark: SparkSession, sfDir: String): DataFrame =
    bin(spark, sfDir).select(col("doc_id"),
      length(col("content")).cast("bigint").as("n_bytes"),
      md5(col("content")).as("content_md5"))

  /** Byte-level stats via the native single-pass kernel. */
  def mmBytes(spark: SparkSession, sfDir: String): DataFrame =
    bin(spark, sfDir)
      .select(col("doc_id"), MultimodalOps.byteStats(col("content")).as("s"))
      .select(col("doc_id"), col("s.n_bytes"), col("s.sum_bytes"),
        col("s.min_byte"), col("s.max_byte"))

  /** Multimodal → similarity integration: 16-bin byte histograms as
    * float features, cosine between consecutive blobs — the
    * codec-free feature path any modality gets for free. */
  def mmHistSim(spark: SparkSession, sfDir: String): DataFrame = {
    val h = bin(spark, sfDir)
      .select(col("doc_id"), MultimodalOps.byteHist(col("content"), 16).as("hist"))
    val a = h.select(col("doc_id").as("doc_a"), col("hist").as("hist_a"))
    val b = h.select(col("doc_id").as("doc_b"), col("hist").as("hist_b"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .select(col("doc_a"), col("doc_b"),
        SimOps.cosine(col("hist_a"), col("hist_b")).as("cos"))
  }

  /** Frame sampling under the oracle gate: each blob is treated as a
    * fixed-frame raw container (n_frames = 8), sampled every 3rd frame
    * plus the last ([[MultimodalOps.sampleFrames]] — the whole path is
    * pure column expressions after the round-4 de-UDF). Output is the
    * scalar view of each sampled frame (index, byte length, md5);
    * DuckDB reproduces the identical slices from the text side (ASCII
    * corpus: character positions == byte positions). */
  def mmFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val media = bin(spark, sfDir).select(col("doc_id").as("media_id"), col("content"),
      struct(lit("video").as("modality"), lit("raw").as("fmt"),
        lit(0).as("width"), lit(0).as("height"), lit(0).as("sample_rate"),
        lit(8).as("n_frames")).as("meta"))
    MultimodalOps.sampleFrames(media, every = 3)
      .select(col("media_id").as("doc_id"),
        col("frame_idx").cast("bigint").as("frame_idx"),
        length(col("frame_bytes")).cast("bigint").as("n_frame_bytes"),
        md5(col("frame_bytes")).as("frame_md5"))
  }

  /** Exact media dedup on the content hash — the first pass every
    * image/video pipeline runs before any perceptual dedup: planted
    * duplicate blobs (doc_id + 1e6) must collapse onto their originals.
    * One map-side-combined hash aggregate keyed by md5(content): only
    * (16-byte hash, id) pairs cross the shuffle, the blob itself never
    * leaves its scan partition — the shape that holds when blobs are
    * megabytes. Output: per duplicated hash, the kept (min) id and the
    * copy count. */
  def mmDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val b = bin(spark, sfDir)
    val corpus = b.unionAll(
      b.select((col("doc_id") + 1000000L).as("doc_id"), col("content")))
    corpus.groupBy(md5(col("content")).as("content_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= 2)
  }

  /** PERCEPTUAL media near-dup — the second pass after [[mmDedup]]'s
    * exact-hash collapse: pair blobs whose positional byte-gradient
    * hashes ([[MultimodalOps.byteSegGradHash]], 32 segments → 31
    * gradient bits) differ by ≤ 2 bits, via the banded hamming join
    * ([[graft.ext.DedupOps.hammingPairs]] — 3 bands, pigeonhole-exact
    * recall, bucket equi-join, never all-pairs). Planted near-dups:
    * each blob re-enters with its LAST byte replaced — the blob length
    * is unchanged, so every segment boundary is identical and only the
    * final segment's sum moves, flipping at most gradient bit 30 ⇒
    * every planted pair is within hamming 1 BY CONSTRUCTION (the
    * recall contract the oracle hash then proves). At scale this runs
    * exactly like the text near-dup path: only (hash, id) crosses the
    * shuffle, blobs never leave their scan partition. */
  def mmPhash(spark: SparkSession, sfDir: String): DataFrame = {
    val b = load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = b.unionAll(b.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(expr("substring(text, 1, length(text) - 1)"), lit("~")).as("text")))
    val hashed = corpus.select(col("doc_id"),
      MultimodalOps.byteSegGradHash(encode(col("text"), "UTF-8"), 32).as("phash"))
    graft.ext.DedupOps.hammingPairs(hashed, "doc_id", "phash",
        bits = 31, bands = 3, maxHamming = 2)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
  }

  /** Perceptual near-dup CLUSTERS — the step after [[mmPhash]]'s pair
    * list that a media-dedup pipeline actually acts on: connected
    * components over the banded hamming pairs (pointer-jumped
    * [[graft.ext.DedupOps.dupClusters]] fixpoint, O(log diameter)
    * rounds), reported as (cluster_rep, size) — the keeper manifest's
    * group table, completing the modality's exact-dedup → pairwise
    * near-dup → clusters ladder that the text pillar already has
    * (`dedup_clusters`/`dedup_cluster_histogram`). Same 100 TB shape
    * as every component consumer: candidates are banded, the fixpoint
    * moves label-sized rows, and the rollup is one map-side-combined
    * fold. The oracle spells the recursive-CTE transitive closure over
    * the quadratic-free banded pair relation. */
  def mmPhashClusters(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.DedupOps.dupClusters(
        mmPhash(spark, sfDir)
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")))
      .groupBy(col("cluster_rep")).agg(count(lit(1)).as("sz"))

  /** AUDIO-fingerprint near-dup — the generic-fingerprint promise of
    * [[graft.ext.DedupOps.hammingPairs]] delivered for a second
    * modality: [[MultimodalOps.byteBandEnergyHash]] (Haitsma–Kalker
    * band-energy bits: 16 time frames × 4 byte-value energy bands → 45
    * sign-of-second-difference bits — 8×4's 21 bits paired 6% of all
    * doc pairs on this corpus; 45 bits discriminates) pairs blobs
    * within hamming ≤ 3 via the 4-band pigeonhole join. Planted
    * near-dups: each blob re-enters with its LAST byte replaced — only
    * the final time frame's band energies move, flipping at most
    * (bands-1)=3 of the 45 bits, so
    * every planted pair is within the threshold BY CONSTRUCTION and
    * ≤3-bit recall is pigeonhole-exact (4 bands > 3 flips). Same scale
    * shape as every hash family here: only (hash, id) crosses the
    * shuffle, bucket equi-join, never all-pairs. */
  def mmAudioDupes(spark: SparkSession, sfDir: String): DataFrame = {
    val b = load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val corpus = b.unionAll(b.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(expr("substring(text, 1, length(text) - 1)"), lit("~")).as("text")))
    val hashed = corpus.select(col("doc_id"),
      MultimodalOps.byteBandEnergyHash(encode(col("text"), "UTF-8"), 16, 4).as("ahash"))
    graft.ext.DedupOps.hammingPairs(hashed, "doc_id", "ahash",
        bits = 45, bands = 4, maxHamming = 3)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
  }

  /** [[mmAudioDupes]] under the hot-bucket guard — the 100 TB posture
    * for a WEAK fingerprint: the band-energy bits are correlated across
    * text-like blobs (measured at sf0.1: max bucket 2168 of 10 000 rows,
    * 16M candidate pairs — the hash, not the join, is the skew source),
    * so production pairing drops buckets larger than `maxBucket=8`
    * before the self-join. Recall loss is hash-visible and DECLARED:
    * a planted pair survives only if at least one of its 4 shared
    * band keys sits in a cold bucket — the oracle counts exactly which
    * do (the dedup_near_capped / dedup_simhash_pairs_capped contract). */
  def mmAudioDupesCapped(spark: SparkSession, sfDir: String): DataFrame = {
    val b = load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val corpus = b.unionAll(b.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(expr("substring(text, 1, length(text) - 1)"), lit("~")).as("text")))
    val hashed = corpus.select(col("doc_id"),
      MultimodalOps.byteBandEnergyHash(encode(col("text"), "UTF-8"), 16, 4).as("ahash"))
    graft.ext.DedupOps.hammingPairs(hashed, "doc_id", "ahash",
        bits = 45, bands = 4, maxHamming = 3, maxBucket = 8)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
  }

  /** SCENE-CUT detection over a frame container — the video-pipeline
    * shot-boundary primitive (PySceneDetect's content-detector shape,
    * codec-free): the blob is cut into 8 equal frames, each frame gets
    * an all-integer 16-bin byte histogram
    * ([[MultimodalOps.byteHistCounts]] native kernel), and a cut
    * fires where the L1 distance between ADJACENT frame histograms
    * exceeds half the frame length (2·L1 > frame_len — integer compare,
    * no IEEE anywhere, so the verdict can't flip on ulp). Planted
    * scenes: each media blob is `lower(text) || upper(text)` — the
    * case flip moves every letter across a 16-bucket boundary, so the
    * mid-blob boundary (4) must cut BY CONSTRUCTION while intra-scene
    * boundaries stay quiet (500/500 recalled, 34 incidental cuts at
    * sf0.01).
    *
    * Scale shape: the ENTIRE operator is a projection — histograms,
    * adjacent-pair L1s, and the cut flags all compute inside the row
    * (`transform` over the frame index), so the blob never leaves its
    * scan partition and the query has ZERO shuffles and ZERO joins
    * (PlanSpec-pinned). This is the plan a per-frame explode + self-join
    * would ruin: at 100 TB of video the per-blob work parallelizes
    * embarrassingly and nothing wide ever materializes. */
  def mmSceneCuts(spark: SparkSession, sfDir: String): DataFrame = {
    val nf = 8
    val d = load(spark, sfDir, "documents")
    val media = d.select(col("doc_id"),
      encode(concat(lower(col("text")), upper(col("text"))), "UTF-8").as("content"))
    val withH = media
      .withColumn("sz", greatest(lit(1), floor(length(col("content")) / lit(nf)).cast("int")))
      .withColumn("hists", transform(sequence(lit(0), lit(nf - 1)),
        i => MultimodalOps.byteHistCounts(
          col("content").substr(i * col("sz") + lit(1), col("sz")), 16)))
    val l1s = transform(sequence(lit(1), lit(nf - 1)),
      b => aggregate(
        zip_with(element_at(col("hists"), b), element_at(col("hists"), b + lit(1)),
          (x, y) => abs(x - y)),
        lit(0L), (s, v) => s + v))
    withH.select(col("doc_id"), col("sz").cast("bigint").as("frame_len"),
        posexplode(l1s).as(Seq("p", "l1")))
      .select(col("doc_id"), (col("p") + lit(1)).cast("bigint").as("boundary"),
        col("frame_len"), col("l1"),
        (col("l1") * lit(2L) > col("frame_len")).as("is_cut"))
  }

  /** Activity segmentation over the audio-shaped blob — the
    * silence-detection op of the audio pillar (voice-activity
    * detection's codec-free skeleton): frame the blob at 16 bytes,
    * score each frame's "energy" as its letter-range byte count
    * (space bytes are the silence analog), flag majority-active
    * frames, and roll maximal active runs into segments via the
    * relational gaps-and-islands id (fi − row_number over the
    * doc-keyed window — text_rake's idiom on the byte side). Each
    * frame's energy comes from the codegen'd
    * [[MultimodalOps.byteHistCounts]] kernel (buckets 4–7 = bytes
    * 64–127), so the blob is scanned once in-partition and only
    * (doc, frame, letters) rows ever leave it — frames per blob is
    * len/16, the segment rollup is frame-bounded, and nothing joins.
    * The oracle re-slices the SAME boundaries from the text side
    * (ASCII ⟺ byte equivalence, the mm_frames contract) and must
    * reproduce every segment's start/length/energy exactly. */
  def mmAudioSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val FL = 16
    val frames = bin(spark, sfDir)
      .withColumn("nf", greatest(lit(1), floor(length(col("content")) / lit(FL)).cast("int")))
      .select(col("doc_id"), posexplode(transform(sequence(lit(0), col("nf") - 1),
        i => aggregate(
          slice(MultimodalOps.byteHistCounts(
            col("content").substr(i * FL + lit(1), lit(FL)), 16), 5, 4),
          lit(0L), (s, v) => s + v))))
      .toDF("doc_id", "fi", "letters")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("fi"))
    frames.filter(col("letters") * 2 > FL)
      .withColumn("g", col("fi") - row_number().over(w))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("fi")).cast("bigint").as("seg_start"),
        count(lit(1)).as("n_frames"), sum(col("letters")).as("n_letters"))
      .select(col("doc_id"), col("seg_start"), col("n_frames"), col("n_letters"))
  }

  /** The frame UDTF under the oracle gate — pure-SQL consumers slice a
    * media blob into per-frame rows with `LATERAL VIEW
    * graft_explode_frames(content, 8)` (a true Catalyst `Generator` —
    * in-partition 1→N, the multimodal sibling of
    * `graft_explode_shingles`); every frame's byte length and md5 must
    * hash-match DuckDB slicing the same boundaries from the text side.
    * This is [[mmFrames]]'s sampling math exposed to SQL, emitting ALL
    * n frames. */
  def mmFramesSql(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sql.GraftExtensions.setup(spark)
    bin(spark, sfDir).createOrReplaceTempView("graft_media_fsql")
    spark.sql(
      """SELECT doc_id, CAST(f.frame_idx AS BIGINT) AS frame_idx,
        |  CAST(length(f.frame_bytes) AS BIGINT) AS n_frame_bytes,
        |  md5(f.frame_bytes) AS frame_md5
        |FROM graft_media_fsql
        |LATERAL VIEW graft_explode_frames(content, 8) f AS frame_idx, frame_bytes""".stripMargin)
  }

  /** Content-defined-chunking storage dedup (LBFS/rsync CDC, the
    * backup-system primitive applied to a training corpus): every
    * blob's byte stream is cut by the [[graft.functions.HashKernels
    * .cdcChunkFps]] rolling-hash kernel (w=8, mask=64 → ~64-byte
    * expected chunks), and per SOURCE the query reports chunk volume,
    * distinct-chunk volume, and the duplicated-chunk share — the
    * number a dedup store actually saves, ROBUST TO SHIFTS (an
    * insertion re-synchronizes within one window, unlike fixed-size
    * blocks; pinned in SqlFunctionsSpec). Plan at 100 TB: one scan,
    * one codegen kernel call per blob, explode of ~len/64 fingerprints,
    * then a map-side-combined (source, fp) rollup — the explode is
    * chunk-grain, never char-grain. The blob-vs-text duality is the
    * suite contract (ASCII ⇒ bytes == codepoints): the kernel runs on
    * the text column, DuckDB re-derives identical cuts from the same
    * pow-table rolling hash over its codepoint lists. */
  def mmCdcChunks(spark: SparkSession, sfDir: String): DataFrame = {
    val fps = load(spark, sfDir, "documents")
      .select(col("source"),
        explode(graft.functions.HashExprs.cdcChunkFps(col("text"), 8, 64L))
          .as("fp"))
    fps.groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("fp")).as("n_distinct"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        expr("(1000 * (n_chunks - n_distinct)) div n_chunks").as("dup_milli"))
  }

  /** Cross-SOURCE chunk containment — the decontamination/provenance
    * view of [[mmCdcChunks]]: which source pairs share content, by
    * DISTINCT CDC chunk fingerprints (the same cuts, so a shifted
    * copy-paste still counts), scored as shared ÷ the smaller side's
    * chunk vocabulary (containment, not Jaccard — a small source fully
    * embedded in a big one scores 1000‰, exactly the leak the measure
    * must catch; the [[graft.ext.DedupOps]] containment convention).
    * Plan: the (source, fp) relation is ONE kernel pass + distinct,
    * persisted query-scoped — the pair join and both marginals read
    * it; candidate pairs form by fp EQUI-JOIN (each fingerprint joins
    * only its own bucket, the engine-wide no-all-pairs rule), and a
    * fingerprint shared by s sources yields s·(s−1)/2 ≤ |sources|²/2
    * pre-combined rows, bounded by the source domain, not by docs.
    * shared ≥ 2 support floor: one coincident 64-byte chunk is noise,
    * a repeat is provenance. */
  def mmChunkOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = graft.core.QueryCaches.track(
      load(spark, sfDir, "documents")
        .select(col("source"),
          explode(graft.functions.HashExprs.cdcChunkFps(col("text"), 8, 64L))
            .as("fp"))
        .distinct())
    val n = sf.groupBy(col("source")).agg(count(lit(1)).as("n_fp"))
    sf.as("a").join(sf.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
      .join(n.select(col("source").as("src_a"), col("n_fp").as("n_a")), "src_a")
      .join(n.select(col("source").as("src_b"), col("n_fp").as("n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("shared"), col("n_a"), col("n_b"),
        expr("(1000 * shared) div least(n_a, n_b)").as("containment_milli"))
  }

  /** Aspect-bucketed training-batch packing — the NaViT/WebDataset
    * loader step that groups images of similar shape into fixed-size
    * batches so a resolution bucket pads minimally. Image dims are
    * derived DETERMINISTICALLY from the blob (w = 16 + n_bytes mod 17,
    * h = 16 + sum_bytes mod 13 — the stub-decode contract: the
    * Spark-side plumbing is real, the codec is faked reproducibly so
    * DuckDB can replay it from the text side). Packing: bucket =
    * (4·w) div h aspect band, then per (bucket, range-shard) the
    * images are ordered by doc_id and cut into batches of 8 — the
    * [[TextQueries.curatePack]] offset-sharding idiom: the window
    * partitions on (bucket, shard), never on bucket alone, so at
    * 100 TB no aspect band serializes onto one partition (shards are
    * ≤2000 docs by construction) and every batch assignment is
    * reproducible run-to-run. Output is the loader's batch manifest:
    * per-batch image count, pixel volume (pad-efficiency numerator),
    * and the doc range. */
  def mmBatchPack(spark: SparkSession, sfDir: String): DataFrame = {
    val meta = bin(spark, sfDir)
      .select(col("doc_id"), MultimodalOps.byteStats(col("content")).as("s"))
      .select(col("doc_id"),
        (lit(16L) + col("s.n_bytes") % 17).as("w"),
        (lit(16L) + col("s.sum_bytes") % 13).as("h"))
      .withColumn("bucket", expr("(w * 4) div h"))
      .withColumn("shard", expr("doc_id div 2000"))
    val win = Window.partitionBy(col("bucket"), col("shard")).orderBy(col("doc_id"))
    meta.withColumn("seq", row_number().over(win))
      .withColumn("batch", expr("(seq - 1) div 8"))
      .groupBy(col("bucket"), col("shard"), col("batch"))
      .agg(count(lit(1)).as("n_imgs"),
        sum(expr("w * h")).as("sum_pixels"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Modality-mix data card — the corpus composition report a
    * multimodal training run opens with: blobs carry a typed modality
    * annotation (here derived `doc_id % 3` → image/audio/video, the
    * deterministic stand-in for real container sniffing), and each
    * modality reports volume (blob count, total/max bytes), the
    * within-modality EXACT-dup rate off the md5 content key, and its
    * byte share of the corpus in per-mille. Scale: one scan folds to
    * (modality, md5) with map-side combine — the blob never crosses a
    * shuffle, only 16-byte keys do (the [[mmDedup]] posture); the
    * 3-row modality rollup then takes the corpus total as a 1-row
    * broadcast. */
  def mmModalMix(spark: SparkSession, sfDir: String): DataFrame = {
    val tagged = bin(spark, sfDir).select(
      expr("CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' " +
        "ELSE 'video' END").as("modality"),
      length(col("content")).cast("bigint").as("n_bytes"),
      md5(col("content")).as("h"))
    val perHash = tagged.groupBy(col("modality"), col("h"))
      .agg(count(lit(1)).as("c"), sum(col("n_bytes")).as("b"))
    val mix = graft.core.QueryCaches.track(
      perHash.groupBy(col("modality"))
        .agg(sum(col("c")).as("n_blobs"),
          count(lit(1)).as("n_distinct"),
          sum(col("b")).cast("bigint").as("total_bytes"),
          max(expr("b div c")).as("max_bytes")))
    val tot = mix.agg(sum(col("total_bytes")).cast("bigint").as("t"))
    mix.crossJoin(broadcast(tot))
      .select(col("modality"), col("n_blobs"), col("n_distinct"),
        expr("(1000 * (n_blobs - n_distinct)) div n_blobs").as("dup_milli"),
        col("total_bytes"), col("max_bytes"),
        expr("(1000 * total_bytes) div t").as("byte_share_milli"))
  }

  /** Dominant byte-bin profile — the codec-free analog of a
    * dominant-color report: each blob's 16-bin byte histogram
    * ([[MultimodalOps.byteHistCounts]], the all-integer codegen
    * kernel) is reduced to its argmax bin (ties → lowest bin, the
    * first-occurrence contract both engines share) with the bin's
    * per-mille share of the blob, then the corpus rolls up per
    * dominant bin — how many blobs each byte-range dominates and how
    * concentrated they are. Scale: the kernel runs inside the scan
    * partition (blob never shuffles, a 16-long array + 2 scalars do);
    * the rollup is a ≤16-group map-side-combined aggregate. */
  def mmDominantBin(spark: SparkSession, sfDir: String): DataFrame =
    bin(spark, sfDir)
      .select(col("doc_id"),
        length(col("content")).cast("bigint").as("n_bytes"),
        MultimodalOps.byteHistCounts(col("content"), 16).as("counts"))
      .select(col("doc_id"), col("n_bytes"),
        expr("array_position(counts, array_max(counts)) - 1").as("dominant_bin"),
        expr("array_max(counts)").as("c_max"))
      .groupBy(col("dominant_bin"))
      .agg(count(lit(1)).as("n_blobs"),
        min(col("doc_id")).as("first_doc"),
        expr("CAST(SUM((c_max * 1000) div greatest(n_bytes, 1)) AS BIGINT) div COUNT(*)")
          .as("avg_share_milli"))

  /** Metadata-conflict audit — the provenance twin of [[mmDedup]]: a
    * mirror feed re-hosts a slice of the corpus (every 7th blob,
    * byte-identical, `source = 'mirror'`), and the audit surfaces
    * every content hash whose copies DISAGREE on provenance — the
    * label-noise screen a training pipeline runs before trusting
    * per-source quality priors or licensing tags (identical bytes with
    * conflicting metadata mean at least one tag is wrong). Same
    * 100 TB posture as mmDedup: blobs fold to (16-byte hash, id,
    * source) in their scan partition, one map-side-combined aggregate;
    * countDistinct(source) is a sub-aggregate over the hash groups,
    * never a second corpus pass. */
  def mmMetaConflict(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), encode(col("text"), "UTF-8").as("content"))
    val mirrored = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        lit("mirror").as("source"), col("content"))
    d.union(mirrored)
      .select(md5(col("content")).as("content_md5"), col("doc_id"), col("source"))
      .groupBy(col("content_md5"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("keep_id"),
        min(col("source")).as("src_min"),
        max(col("source")).as("src_max"))
      .filter(col("n_sources") > 1)
  }

  /** Container sniffing — the magic-byte format detector every media
    * ingest runs before trusting a file extension: blobs are minted
    * with a 4-byte container prefix derived from their ANNOTATED
    * modality (the [[mmModalMix]] `doc_id % 3` assignment — ASCII
    * magics so the oracle reproduces them from the text side), except
    * every 11th blob ships the WRONG prefix (the planted
    * extension-lies-about-content case). The sniffer reads ONLY the
    * leading bytes — never the payload — and the readout is the
    * (annotated × sniffed) confusion matrix with the diagonal flag,
    * [[graft.queries.TextQueries.textLangidConfusion]]'s shape for
    * binary containers. Scale: prefix mint + sniff are scan-partition
    * projections on a 4-byte slice; the rollup is a ≤9-cell
    * map-side-combined aggregate. */
  def mmContainerSniff(spark: SparkSession, sfDir: String): DataFrame = {
    val annotated = expr(
      "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END")
    // the prefix is minted from the SHIPPED modality: wrong for every
    // 11th blob (shifted one modality over), right otherwise
    val shipped = expr("CASE WHEN doc_id % 11 = 0 THEN (doc_id + 1) % 3 " +
      "ELSE doc_id % 3 END")
    val d = load(spark, sfDir, "documents")
      .select(col("doc_id"), annotated.as("annotated"),
        concat(
          element_at(array(lit("PNGX"), lit("RIFF"), lit("FTYP")),
            (shipped + 1).cast("int")),
          col("text")).as("payload"))
      .select(col("doc_id"), col("annotated"),
        encode(col("payload"), "UTF-8").as("content"))
    d.select(col("annotated"),
        expr("CASE decode(substring(content, 1, 4), 'UTF-8') " +
          "WHEN 'PNGX' THEN 'image' WHEN 'RIFF' THEN 'audio' " +
          "WHEN 'FTYP' THEN 'video' ELSE 'unknown' END").as("sniffed"))
      .groupBy(col("annotated"), col("sniffed"))
      .agg(count(lit(1)).as("n"))
      .withColumn("is_diagonal", col("annotated") === col("sniffed"))
  }

  /** Tile-hash partial-duplicate detection — the CROP/SPLICE catch
    * that whole-blob hashing ([[mmDedup]]) and global perceptual
    * hashing ([[mmPhash]]) both miss: a media asset that EMBEDS a
    * chunk of another (cropped image, spliced clip, quoted region)
    * shares exact TILES without sharing any whole-content signature.
    * Each blob splits into 16 equal byte tiles (floor(len/16) each,
    * tail remainder ignored; blobs under 16 bytes drop out), each
    * tile md5-keyed; pairs come from an EQUI-join on the tile hash —
    * never all-pairs — counting DISTINCT shared tile values per pair,
    * reported at ≥ 4 shared tiles. Boilerplate guard: a tile value
    * occurring in > 50 blobs (the all-zeros frame, silence, letterbox
    * bars) is excluded BEFORE the join — the same df-cap discipline
    * as the text prefix join, making the fan-out per tile value ≤
    * 50·49/2 regardless of corpus size. Planted partials: every 40th
    * doc re-enters as a SELF-SPLICE (its first 8 tiles, twice) —
    * length 16·tw is preserved, so tile boundaries ALIGN with the
    * source and the pair shares its first-half tile values by
    * construction (the alignment is the point: a splice at a non-tile
    * offset is what the CDC chunker [[mmCdcChunks]] exists to catch). */
  def mmTileHash(spark: SparkSession, sfDir: String): DataFrame = {
    val b = bin(spark, sfDir)
    val spliced = b
      .filter(col("doc_id") % 40 === 0 && length(col("content")) >= 16)
      .withColumn("tw", expr("length(content) div 16"))
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(expr("substring(content, 1, 8 * tw)"),
          expr("substring(content, 1, 8 * tw)")).as("content"))
    val corpus = b.unionAll(spliced)
    val tiles = graft.core.QueryCaches.track(corpus
      .filter(length(col("content")) >= 16)
      .withColumn("tw", expr("length(content) div 16"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, 15), i -> md5(substring(content, i * tw + 1, tw)))"))
        .as("tile_md5"))
      .distinct())
    val rare = tiles.groupBy(col("tile_md5")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50)
    val keep = tiles.join(rare.select(col("tile_md5")), "tile_md5")
    keep.as("x").join(keep.as("y"),
        col("x.tile_md5") === col("y.tile_md5") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_tiles"))
      .filter(col("n_shared_tiles") >= 4L)
  }

  /** Blur/sharpness quality screen — discrete-Laplacian energy per
    * blob through the new codegen byte kernel
    * ([[MultimodalOps.byteLaplacian]]): second-difference magnitude
    * sum, normalized per interior byte in exact milli units. The
    * media-curation gate that drops blurred/degenerate assets before
    * they cost feature-extraction compute; in the byte domain a
    * constant run or linear ramp scores 0 while texture scores high —
    * the corpus's own spread is the readout. One scan, kernel inside
    * whole-stage codegen, a 16-group rollup by energy band (share per
    * band in per-mille) — the blob never leaves its scan partition
    * and the shuffle carries 16 rows. */
  def mmSharpness(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = bin(spark, sfDir)
      .select(col("doc_id"), length(col("content")).cast("bigint").as("n_bytes"),
        MultimodalOps.byteLaplacian(col("content")).as("lap_energy"))
      .withColumn("sharp_milli",
        expr("CASE WHEN n_bytes < 3 THEN 0 ELSE (1000 * lap_energy) div (n_bytes - 2) END"))
    val bands = scored
      .groupBy(expr("least(CAST(15 AS BIGINT), sharp_milli div 10000)").as("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("lap_energy")).as("sum_energy"),
        min(col("sharp_milli")).as("min_milli"), max(col("sharp_milli")).as("max_milli"))
    val tot = bands.agg(sum(col("n_docs")).as("n_tot"))
    bands.crossJoin(broadcast(tot))
      .select(col("band"), col("n_docs"), col("sum_energy"),
        col("min_milli"), col("max_milli"),
        expr("(1000 * n_docs) div n_tot").as("share_milli"))
  }

  /** Dead-air screen — run-length profile per blob through the codegen
    * [[MultimodalOps.byteRunStats]] kernel: maximal constant-byte runs
    * are silence in audio, frozen frames in video, padding in
    * containers; run8_bytes (bytes inside runs ≥ 8) over n_bytes is
    * the per-mille dead-air share a curation gate thresholds before
    * spending decode/feature compute. Planted positives: every 25th
    * doc re-enters with a 32-byte constant tail — max_run ≥ 32 by
    * construction, so the `padded` flag (max_run ≥ 16) catches every
    * plant while natural ASCII text (runs of 1–2) stays clean. One
    * scan, kernel inside whole-stage codegen, per-doc rows. */
  def mmByteRuns(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
    val planted = d.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat(col("text"), lit("~" * 32)).as("text"))
    // n_bytes via octet_length: the kernel runs over UTF-8 BYTES, so the
    // dead-air ratio's denominator must be bytes too — length(text)
    // (characters) would silently mix units on non-ASCII input (it
    // matched only because this corpus is ASCII).
    d.select(col("doc_id"), col("text")).unionAll(planted)
      .select(col("doc_id"), expr("octet_length(text)").cast("bigint").as("n_bytes"),
        MultimodalOps.byteRunStats(encode(col("text"), "UTF-8")).as("r"))
      .select(col("doc_id"), col("n_bytes"), col("r.n_runs"), col("r.max_run"),
        col("r.run8_bytes"),
        expr("CASE WHEN n_bytes = 0 THEN 0 " +
          "ELSE (1000 * r.run8_bytes) div n_bytes END").as("dead_air_milli"),
        (col("r.max_run") >= 16L).as("padded"))
  }

  /** Perceptual-hash RADIUS operating curve — the media twin of
    * [[graft.queries.DedupQueries.dedupBandSweep]]: the hamming
    * threshold is the near-dup knob (0 = exact-signature, 2 = the
    * band-join's pigeonhole ceiling at 3 bands), and this row reports
    * per radius the admitted pair volume beside planted-twin recall —
    * the precision/recall trade a media-dedup deployment reads before
    * picking its radius. ONE banded candidate generation (radius-2
    * superset, persisted); each radius is a conditional count over it
    * — the "sweep shares the expensive stage" discipline of the LSH
    * and nprobe sweeps. Planted twins: the [[mmPhash]] last-byte
    * mutation — only the final segment's mean moves, so every plant
    * sits within the radius-2 candidate set by construction. */
  def mmPhashSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val b = load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val corpus = b.unionAll(b.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(expr("substring(text, 1, length(text) - 1)"), lit("~")).as("text")))
    val hashed = corpus.select(col("doc_id"),
      MultimodalOps.byteSegGradHash(encode(col("text"), "UTF-8"), 32).as("phash"))
    val pairs = graft.core.QueryCaches.track(
      graft.ext.DedupOps.hammingPairs(hashed, "doc_id", "phash",
        bits = 31, bands = 3, maxHamming = 2)
        .withColumn("planted",
          when(col("id_b") === col("id_a") + 1000000L, 1L).otherwise(0L)))
    val nd = b.agg(count(lit(1)).as("n_docs"))
    val folded = pairs.agg(
      sum(when(col("hamming") <= 0L, 1L).otherwise(0L)).as("c0"),
      sum(when(col("hamming") <= 1L, 1L).otherwise(0L)).as("c1"),
      count(lit(1)).as("c2"),
      sum(when(col("hamming") <= 0L, col("planted")).otherwise(0L)).as("p0"),
      sum(when(col("hamming") <= 1L, col("planted")).otherwise(0L)).as("p1"),
      sum(col("planted")).as("p2"))
    folded.crossJoin(broadcast(nd))
      .select(col("n_docs"), explode(array(
        struct(lit(0L).as("radius"), col("c0").as("n_pairs"), col("p0").as("n_planted")),
        struct(lit(1L).as("radius"), col("c1").as("n_pairs"), col("p1").as("n_planted")),
        struct(lit(2L).as("radius"), col("c2").as("n_pairs"), col("p2").as("n_planted"))))
        .as("s"))
      .select(col("s.radius").as("radius"), col("s.n_pairs").as("n_pairs"),
        col("s.n_planted").as("n_planted"),
        expr("(1000 * s.n_planted) div n_docs").as("recall_milli"),
        expr("CASE WHEN s.n_pairs = 0 THEN 0 " +
          "ELSE (1000 * s.n_planted) div s.n_pairs END").as("precision_milli"))
  }

  /** Byte-distribution entropy — compression potential per blob, in
    * exact millibits through the fast-log kernel over the codegen
    * 16-bin byte histogram ([[MultimodalOps.byteHistCounts]]): a blob
    * whose bytes concentrate in one bin (H → 0) is padding/silence
    * and will crush under any codec; H near 4000 millibits (log₂ 16)
    * is already-compressed or encrypted-looking content — the routing
    * signal beside [[graft.queries.Relational.qEncodeCost]]'s exact
    * varint answer for integer columns. Non-empty bins posexplode to
    * rows (16 per blob, no HOF over a kernel column — the lambda
    * re-evaluation trap), the millibit fold is H·n = Σ c·(L(n) −
    * L(c)), one integral division per blob. */
  def mmByteEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HashExprs.log2Millis
    val hist = bin(spark, sfDir)
      .select(col("doc_id"), length(col("content")).cast("bigint").as("n_bytes"),
        posexplode(MultimodalOps.byteHistCounts(col("content"), 16))
          .as(Seq("bin", "c")))
      .filter(col("c") > 0L)
    hist
      .withColumn("term", col("c") * (log2Millis(col("n_bytes")) - log2Millis(col("c"))))
      .groupBy(col("doc_id"), col("n_bytes"))
      .agg(count(lit(1)).as("n_bins"), sum(col("term")).as("ts"))
      .select(col("doc_id"), col("n_bytes"), col("n_bins"),
        expr("CASE WHEN n_bytes = 0 THEN 0 ELSE ts div n_bytes END")
          .as("entropy_milli"))
  }

  /** [[mmContainerSniff]] re-gated over the GENUINE binary fixture:
    * the sniffer reads 4 leading bytes that include values ≥ 0x80 and
    * embedded NULs (real PNG/ADTS/MPEG-PS magics — bytes no UTF-8
    * text stand-in can carry), so the prefix-slice path is exercised
    * on content that is not text. Same planted wrong-prefix every
    * 11th blob, same (annotated × sniffed) confusion readout. */
  def mmBinSniff(spark: SparkSession, sfDir: String): DataFrame = {
    val annotated = expr(
      "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END")
    synthBin(spark, sfDir).withColumn("annotated", annotated)
      .select(col("annotated"),
        expr("CASE hex(substring(content, 1, 4)) " +
          "WHEN '89504E47' THEN 'image' WHEN 'FFF14C80' THEN 'audio' " +
          "WHEN '000001BA' THEN 'video' ELSE 'unknown' END").as("sniffed"))
      .groupBy(col("annotated"), col("sniffed"))
      .agg(count(lit(1)).as("n"))
      .withColumn("is_diagonal", col("annotated") === col("sniffed"))
  }

  /** [[mmByteEntropy]] re-gated over the binary fixture — and the
    * fixture makes the signal REAL: the planted constant-byte blobs
    * (every 5th doc) collapse to one bin / 0 millibits while the LCG
    * bodies spread over all 16 bins near the 4000-millibit ceiling —
    * the routing split an ingest pipeline acts on (phash and codecs
    * only for the high-entropy side, see [[mmBinPhash]]). */
  def mmBinEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HashExprs.log2Millis
    val hist = synthBin(spark, sfDir)
      .select(col("doc_id"), length(col("content")).cast("bigint").as("n_bytes"),
        posexplode(MultimodalOps.byteHistCounts(col("content"), 16))
          .as(Seq("bin", "c")))
      .filter(col("c") > 0L)
    hist
      .withColumn("term", col("c") * (log2Millis(col("n_bytes")) - log2Millis(col("c"))))
      .groupBy(col("doc_id"), col("n_bytes"))
      .agg(count(lit(1)).as("n_bins"), sum(col("term")).as("ts"))
      .select(col("doc_id"), col("n_bytes"), col("n_bins"),
        expr("CASE WHEN n_bytes = 0 THEN 0 ELSE ts div n_bytes END")
          .as("entropy_milli"))
  }

  /** [[mmPhash]] re-gated over the binary fixture: gradient hashes on
    * full-range bytes (not ASCII sums), planted near-dups as
    * last-byte-overwritten mutants (one 2-byte segment moves ⇒
    * hamming ≤ 1 by construction), PLUS the fixture's shared-body
    * structure — 4 consecutive docs share the 64-byte body and differ
    * only in magic bytes, so cross-doc near-dup pairs arise from
    * content, not from planting. The constant-byte degenerates are
    * EXCLUDED (the [[mmBinEntropy]] routing gate): dHash collapses
    * every structured-constant blob to the same signature, so an
    * ungated phash over padding/silence would bucket df² pairs — the
    * entropy screen IS the 100 TB guard, applied here exactly as a
    * production pipeline applies it. */
  def mmBinPhash(spark: SparkSession, sfDir: String): DataFrame = {
    val b = synthBin(spark, sfDir).filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val corpus = b.unionAll(b.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(expr("substring(content, 1, 67)"), unhex(lit("5a"))).as("content")))
    val hashed = corpus.select(col("doc_id"),
      MultimodalOps.byteSegGradHash(col("content"), 32).as("phash"))
    graft.ext.DedupOps.hammingPairs(hashed, "doc_id", "phash",
        bits = 31, bands = 3, maxHamming = 2)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
  }

  /** Tile-level partial-duplicate detection over the binary fixture —
    * the crop/splice catch exercised on bytes where it is REAL: the
    * fixture plants exact duplicate 16-byte tiles both WITHIN a blob
    * (tiles 0/2 and 1/3 repeat) and ACROSS blobs (4 consecutive docs
    * share tile content), so the equi-join on the tile value finds
    * pairs sharing ≥ 2 distinct tiles — exactly the within-group
    * pairs, content-derived, not planted post-hoc. Constant-byte
    * degenerates are excluded behind the [[mmBinEntropy]] gate (a
    * constant tile is the padding boilerplate whose df would grow with
    * the corpus). The hot-tile skew guard is ENGAGED (maxDf = 8 — the
    * seventh capped candidate family): tiles shared by more than 8
    * docs are dropped before the pair join, because the fixture's own
    * formula mints one at scale — seeds with (s+1) ≡ 0 mod 256
    * produce an ALL-ZERO tile shared by ~0.8% of docs, which at 1M
    * docs is a ~7,800-doc bucket and a 30M-pair df² explosion (the 1M
    * smoke measured it: the uncapped join ran 20× the budget). The
    * declared recall trade: pairs sharing ONLY a capped-out tile are
    * missed — at oracle scale (seeds < 256, df ≤ 4) the cap drops
    * nothing, and the oracle spells the identical capped semantics so
    * that is hash-checked. Plan: 4 fixed-width tile keys per blob,
    * distinct, df filter, one tile-keyed equi-join — blobs never
    * cross the shuffle. */
  def mmBinTiles(spark: SparkSession, sfDir: String): DataFrame = {
    val b = synthBin(spark, sfDir).filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val dt = graft.core.QueryCaches.track(
      b.select(col("doc_id"),
        explode(array((0 to 3).map(t =>
          expr(s"hex(substring(content, ${5 + 16 * t}, 16))")): _*)).as("tile"))
      .distinct())
    val dfreq = dt.groupBy(col("tile")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 8).select(col("tile"))
    val capped = dt.join(dfreq, "tile")
    capped.as("a").join(capped.as("b"),
        col("a.tile") === col("b.tile") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_tiles"))
      .filter(col("n_shared_tiles") >= 2)
  }

  /** Partial-duplicate GROUPS over the binary fixture — the step after
    * [[mmBinTiles]]'s pair list that a storage-dedup pipeline acts on,
    * closing the binary modality's exact → pairwise → clusters ladder
    * exactly as [[mmPhashClusters]] closed the perceptual one, but on
    * true bytes: connected components over the capped tile-share pairs
    * (pointer-jumped [[graft.ext.DedupOps.dupClusters]] fixpoint,
    * O(log diameter) rounds, label-sized rows only), reported as the
    * (cluster_rep, sz) keeper-group table. The oracle spells the
    * recursive-CTE transitive closure over the identical capped pair
    * relation. */
  def mmBinDupGroups(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.DedupOps.dupClusters(
        mmBinTiles(spark, sfDir)
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")))
      .groupBy(col("cluster_rep")).agg(count(lit(1)).as("sz"))

  /** [[mmFrames]]'s sampling re-gated over the binary fixture — the
    * last mm path still exercised only on text stand-ins: each blob is
    * treated as an 8-frame raw container (8-byte frames over the
    * 68-byte blob, tail truncated by the substr contract), frames
    * 0/3/6 + last sampled, and each sampled frame reports the
    * single-pass [[MultimodalOps.byteStats]] kernel readout — run here
    * over slices carrying ≥0x80 bytes and NULs. Pure projections:
    * blobs never cross a shuffle, the frame explode is 4 fixed rows
    * per blob. */
  def mmBinFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val media = synthBin(spark, sfDir).select(col("doc_id").as("media_id"),
      col("content"),
      struct(lit("video").as("modality"), lit("raw").as("fmt"),
        lit(0).as("width"), lit(0).as("height"), lit(0).as("sample_rate"),
        lit(8).as("n_frames")).as("meta"))
    MultimodalOps.sampleFrames(media, every = 3)
      .select(col("media_id").as("doc_id"),
        col("frame_idx").cast("bigint").as("frame_idx"),
        MultimodalOps.byteStats(col("frame_bytes")).as("s"))
      .select(col("doc_id"), col("frame_idx"), col("s.n_bytes"),
        col("s.sum_bytes"), col("s.min_byte"), col("s.max_byte"))
  }

  /** The band-energy-hashed binary corpus shared by the two audio rows:
    * [[synthBin]] blobs minus the constant-byte degenerates (the
    * [[mmBinEntropy]] routing gate — a silence blob's band energies
    * collapse to one pattern and would bucket df² pairs), each doubled
    * with a last-byte-overwritten mutant (byte 67 lives in time frame
    * 15 alone, so only frame 15's band energies move ⇒ ≤ bands−1 = 3
    * of the 45 second-difference bits flip — the planted pair is
    * within hamming 3 BY CONSTRUCTION, and 4 bands > 3 flips makes
    * recall pigeonhole-exact). The fixture's shared-body structure (4
    * consecutive docs share the 64-byte body, differing only in the
    * frame-0 magic ⇒ only the t=1 bits move) also yields CONTENT-
    * derived near-dup pairs, exactly as [[mmBinPhash]]. */
  private def binAudioHashed(spark: SparkSession, sfDir: String): DataFrame = {
    val b = synthBin(spark, sfDir).filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val corpus = b.unionAll(b.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(expr("substring(content, 1, 67)"), unhex(lit("5a"))).as("content")))
    corpus.select(col("doc_id"),
      MultimodalOps.byteBandEnergyHash(col("content"), 16, 4).as("ahash"))
  }

  /** [[mmAudioDupes]] re-gated over the binary fixture — the
    * Haitsma–Kalker band-energy kernel finally run on full-range bytes
    * (values ≥ 0x80 land in bands 2–3, which ASCII stand-ins never
    * populate; NULs pin band 0). Same banded hamming join, same
    * pigeonhole-exact ≤3-bit recall. */
  def mmBinAudioDupes(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.DedupOps.hammingPairs(binAudioHashed(spark, sfDir), "doc_id", "ahash",
        bits = 45, bands = 4, maxHamming = 3)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))

  /** [[mmBinAudioDupes]] under the hot-bucket guard (maxBucket = 8) —
    * the production posture: a band key minted from few high-entropy
    * frames can still collide across body groups, and the cap bounds
    * any bucket's pair fan-out to 8²/2 regardless of corpus size. The
    * recall trade is hash-checked against the identical HAVING-capped
    * oracle spelling. */
  def mmBinAudioDupesCapped(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.DedupOps.hammingPairs(binAudioHashed(spark, sfDir), "doc_id", "ahash",
        bits = 45, bands = 4, maxHamming = 3, maxBucket = 8)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))

  /** [[mmCdcChunks]] re-gated over the binary fixture through the NEW
    * byte-level rolling-hash kernel ([[graft.functions.HashKernels
    * .cdcChunkFpsBin]] — a media container is not UTF-8; the codepoint
    * path cannot chunk it): per source, chunk volume, distinct-chunk
    * volume, and the duplicated-chunk share. mask = 16 sizes expected
    * chunks to ~16 bytes over the 68-byte blobs (the text row's 64
    * would leave most blobs one chunk); the fixture's duplicated tiles
    * and shared bodies make the dup share REAL — identical byte runs
    * re-synchronize to identical cuts and fingerprints. Same plan: one
    * scan, codegen kernel per blob, chunk-grain explode, map-side
    * combined (source, fp) rollup. */
  def mmBinCdcChunks(spark: SparkSession, sfDir: String): DataFrame = {
    val fps = synthBin(spark, sfDir, keep = Seq("source"))
      .select(col("source"),
        explode(graft.functions.HashExprs.cdcChunkFpsBin(col("content"), 8, 16L))
          .as("fp"))
    fps.groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("fp")).as("n_distinct"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        expr("(1000 * (n_chunks - n_distinct)) div n_chunks").as("dup_milli"))
  }

  /** [[mmChunkOverlap]] on the binary fixture — cross-source
    * containment by DISTINCT byte-level CDC chunk fingerprints, the
    * provenance matrix computed on content the text twin cannot
    * represent. Same plan discipline: the (source, fp) relation is one
    * kernel pass + distinct (query-scoped persist, three consumers),
    * pairs form by fp equi-join bounded by the source domain, shared ≥
    * 2 support floor. */
  def mmBinChunkOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = graft.core.QueryCaches.track(
      synthBin(spark, sfDir, keep = Seq("source"))
        .select(col("source"),
          explode(graft.functions.HashExprs.cdcChunkFpsBin(col("content"), 8, 16L))
            .as("fp"))
        .distinct())
    val n = sf.groupBy(col("source")).agg(count(lit(1)).as("n_fp"))
    sf.as("a").join(sf.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
      .join(n.select(col("source").as("src_a"), col("n_fp").as("n_a")), "src_a")
      .join(n.select(col("source").as("src_b"), col("n_fp").as("n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("shared"), col("n_a"), col("n_b"),
        expr("(1000 * shared) div least(n_a, n_b)").as("containment_milli"))
  }

  /** [[mmSharpness]] re-gated over the binary fixture — and the
    * Laplacian finally measures something: the mid-square bodies are
    * full-range texture (high second-difference energy) while the
    * constant-byte degenerates score ≈0 beyond the magic→body
    * boundary, so the band histogram splits the corpus the way a
    * blur/padding screen must. Same one-scan plan: codegen kernel in
    * the projection, ≤16-group rollup. */
  def mmBinSharpness(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = synthBin(spark, sfDir)
      .select(col("doc_id"), length(col("content")).cast("bigint").as("n_bytes"),
        MultimodalOps.byteLaplacian(col("content")).as("lap_energy"))
      .withColumn("sharp_milli",
        expr("CASE WHEN n_bytes < 3 THEN 0 ELSE (1000 * lap_energy) div (n_bytes - 2) END"))
    val bands = scored
      .groupBy(expr("least(CAST(15 AS BIGINT), sharp_milli div 10000)").as("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("lap_energy")).as("sum_energy"),
        min(col("sharp_milli")).as("min_milli"), max(col("sharp_milli")).as("max_milli"))
    val tot = bands.agg(sum(col("n_docs")).as("n_tot"))
    bands.crossJoin(broadcast(tot))
      .select(col("band"), col("n_docs"), col("sum_energy"),
        col("min_milli"), col("max_milli"),
        expr("(1000 * n_docs) div n_tot").as("share_milli"))
  }

  /** [[mmByteRuns]] re-gated over the binary fixture — the dead-air
    * screen on content where the positives are STRUCTURAL, not
    * appended: every 5th blob's constant 64-byte body is a maximal run
    * by construction (max_run ≥ 64 ⇒ `padded`), while mid-square
    * bodies keep runs of 1–2, so the flag partitions the corpus
    * exactly along the [[mmBinEntropy]] routing split. One scan,
    * kernel in codegen, per-doc rows. */
  def mmBinRuns(spark: SparkSession, sfDir: String): DataFrame =
    synthBin(spark, sfDir)
      .select(col("doc_id"), length(col("content")).cast("bigint").as("n_bytes"),
        MultimodalOps.byteRunStats(col("content")).as("r"))
      .select(col("doc_id"), col("n_bytes"), col("r.n_runs"), col("r.max_run"),
        col("r.run8_bytes"),
        expr("CASE WHEN n_bytes = 0 THEN 0 " +
          "ELSE (1000 * r.run8_bytes) div n_bytes END").as("dead_air_milli"),
        (col("r.max_run") >= 16L).as("padded"))

  /** [[mmSceneCuts]] re-gated over genuine binary content — and the
    * planted boundary is STRUCTURAL: each media blob is a splice of a
    * 64-byte CONSTANT half (the padding/silence scene, byte
    * (7·doc_id) mod 256) and a 64-byte mid-square TEXTURED half (the
    * [[synthBin]] body formula), so with 8 16-byte frames the
    * constant→textured boundary (4) carries the maximal histogram move
    * — L1 = 32 > frame_len = 16 fires BY CONSTRUCTION — while
    * boundaries 1–3 are exactly quiet (identical constant frames,
    * L1 = 0; measured at sf0.01: 500/500 cut at 4, 0/500 at 1–3).
    * Textured-side boundaries (5–7) fire 492/500 — a 16-byte frame is
    * too short for a stable 16-bin histogram, so high-entropy content
    * reads as constant scene churn at this threshold: exactly the
    * frame-length-vs-bin-count trade a detector deployment must size
    * first, surfaced on content where it is real. Same
    * zero-shuffle plan as the text row: histograms, L1s, and flags all
    * compute in-row; the blob never leaves its scan partition. */
  def mmBinSceneCuts(spark: SparkSession, sfDir: String): DataFrame = {
    val nf = 8
    val constHex = transform(sequence(lit(0L), lit(63L)), _ =>
      lpad(lower(hex(pmod(col("doc_id") * 7, lit(256)))), 2, "0"))
    val texHex = transform(sequence(lit(0L), lit(63L)), i =>
      lpad(lower(hex(pmod(
        shiftright({
          val v = pmod(((col("doc_id") / 4).cast("bigint") * 2 +
            (i / 16).cast("bigint") % 2) * lit(40503L) +
            (pmod(i, lit(16)) + 1) * lit(104729L), lit(2147483647L))
          v * v
        }, 23),
        lit(256)))), 2, "0"))
    val media = load(spark, sfDir, "documents").select(col("doc_id"),
      unhex(concat(array_join(constHex, ""), array_join(texHex, ""))).as("content"))
    val withH = media
      .withColumn("sz", greatest(lit(1), floor(length(col("content")) / lit(nf)).cast("int")))
      .withColumn("hists", transform(sequence(lit(0), lit(nf - 1)),
        i => MultimodalOps.byteHistCounts(
          col("content").substr(i * col("sz") + lit(1), col("sz")), 16)))
    val l1s = transform(sequence(lit(1), lit(nf - 1)),
      b => aggregate(
        zip_with(element_at(col("hists"), b), element_at(col("hists"), b + lit(1)),
          (x, y) => abs(x - y)),
        lit(0L), (s, v) => s + v))
    withH.select(col("doc_id"), col("sz").cast("bigint").as("frame_len"),
        posexplode(l1s).as(Seq("p", "l1")))
      .select(col("doc_id"), (col("p") + lit(1)).cast("bigint").as("boundary"),
        col("frame_len"), col("l1"),
        (col("l1") * lit(2L) > col("frame_len")).as("is_cut"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_bin_scene_cuts" -> (mmBinSceneCuts _),
    "mm_bin_sharpness" -> (mmBinSharpness _),
    "mm_bin_runs" -> (mmBinRuns _),
    "mm_bin_audio_dupes" -> (mmBinAudioDupes _),
    "mm_bin_audio_dupes_capped" -> (mmBinAudioDupesCapped _),
    "mm_bin_cdc_chunks" -> (mmBinCdcChunks _),
    "mm_bin_chunk_overlap" -> (mmBinChunkOverlap _),
    "mm_byte_entropy" -> (mmByteEntropy _),
    "mm_bin_sniff" -> (mmBinSniff _),
    "mm_bin_tiles" -> (mmBinTiles _),
    "mm_bin_dup_groups" -> (mmBinDupGroups _),
    "mm_bin_frames" -> (mmBinFrames _),
    "mm_bin_entropy" -> (mmBinEntropy _),
    "mm_bin_phash" -> (mmBinPhash _),
    "mm_phash_sweep" -> (mmPhashSweep _),
    "mm_byte_runs" -> (mmByteRuns _),
    "mm_sharpness" -> (mmSharpness _),
    "mm_tile_hash" -> (mmTileHash _),
    "mm_container_sniff" -> (mmContainerSniff _),
    "mm_meta_conflict" -> (mmMetaConflict _),
    "mm_modal_mix" -> (mmModalMix _),
    "mm_dominant_bin" -> (mmDominantBin _),
    "mm_batch_pack" -> (mmBatchPack _),
    "mm_cdc_chunks" -> (mmCdcChunks _),
    "mm_chunk_overlap" -> (mmChunkOverlap _),
    "mm_audio_segments" -> (mmAudioSegments _),
    "mm_frames_sql" -> (mmFramesSql _),
    "mm_scene_cuts" -> (mmSceneCuts _),
    "mm_audio_dupes" -> (mmAudioDupes _),
    "mm_audio_dupes_capped" -> (mmAudioDupesCapped _),
    "mm_phash" -> (mmPhash _),
    "mm_phash_clusters" -> (mmPhashClusters _),
    "mm_dedup" -> (mmDedup _),
    "mm_frames" -> (mmFrames _),
    "mm_meta" -> (mmMeta _),
    "mm_bytes" -> (mmBytes _),
    "mm_hist_sim" -> (mmHistSim _))

  // ASCII corpus ⇒ byte view == codepoint view; DuckDB works from text.
  private val cpsSql = "list_transform(string_split(text, ''), ch -> unicode(ch))"

  private val histSql =
    s"list_transform(range(0, 16), b -> CAST(len(list_filter(cps, c -> c // 16 = b)) AS FLOAT)" +
      s" / CAST(greatest(1, len(cps)) AS FLOAT))"

  private def cosDSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($x)+1), " +
        s"i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))), (s,x) -> s + x)"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  // 16 time frames × 4 byte-value energy bands (64-wide), Haitsma–Kalker
  // second-difference sign bits, then the 4-band (11/11/11/12-bit) key
  // table — the exact arithmetic of byteBandEnergyHash + hammingPairs'
  // band split. Shared by the capped and uncapped pairings.
  private val audioBandSql =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, substr(text, 1, len(text) - 1) || '~'
       |  FROM documents),
       |c AS (SELECT doc_id, $cpsSql AS cps FROM corpus),
       |e AS (SELECT doc_id, list_transform(range(0, 16), t ->
       |    list_transform(range(0, 4), bb ->
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_filter(cps[(t * len(cps)) // 16 + 1 : ((t + 1) * len(cps)) // 16],
       |                    v -> v // 64 = bb)),
       |        (x, y) -> x + y))) AS eng FROM c),
       |p AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    flatten(list_transform(range(1, 16), t -> list_transform(range(0, 3), bb ->
       |      CASE WHEN (eng[t+1][bb+1] - eng[t+1][bb+2]) - (eng[t][bb+1] - eng[t][bb+2]) > 0
       |      THEN CAST(power(2, (t - 1) * 3 + bb) AS BIGINT)
       |      ELSE CAST(0 AS BIGINT) END)))),
       |    (a, b) -> a + b) AS ah FROM e),
       |b_t AS (SELECT doc_id, ah, band, CASE band
       |    WHEN 0 THEN ah % 2048 WHEN 1 THEN (ah // 2048) % 2048
       |    WHEN 2 THEN (ah // 4194304) % 2048 ELSE ah // 8589934592 END AS key
       |  FROM p, (SELECT unnest([0, 1, 2, 3]) AS band))""".stripMargin

  // audioBandSql's arithmetic over the BINARY fixture: synthBin byte
  // lists (constant-byte degenerates gated out), last-byte-overwritten
  // mutants (0x5a = 90), then the identical 16×4 energy / 45-bit sign
  // / 4-band key pipeline. Shared by the capped and uncapped pairings.
  private val binAudioBandSql =
    s"""WITH base AS (SELECT doc_id, $synthCpsSql AS cps FROM documents
       |  WHERE doc_id % 5 <> 0),
       |c AS (SELECT doc_id, cps FROM base
       |  UNION ALL SELECT doc_id + 1000000,
       |    list_concat(cps[1:67], [CAST(90 AS BIGINT)]) FROM base),
       |e AS (SELECT doc_id, list_transform(range(0, 16), t ->
       |    list_transform(range(0, 4), bb ->
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_filter(cps[(t * len(cps)) // 16 + 1 : ((t + 1) * len(cps)) // 16],
       |                    v -> v // 64 = bb)),
       |        (x, y) -> x + y))) AS eng FROM c),
       |p AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    flatten(list_transform(range(1, 16), t -> list_transform(range(0, 3), bb ->
       |      CASE WHEN (eng[t+1][bb+1] - eng[t+1][bb+2]) - (eng[t][bb+1] - eng[t][bb+2]) > 0
       |      THEN CAST(power(2, (t - 1) * 3 + bb) AS BIGINT)
       |      ELSE CAST(0 AS BIGINT) END)))),
       |    (a, b) -> a + b) AS ah FROM e),
       |b_t AS (SELECT doc_id, ah, band, CASE band
       |    WHEN 0 THEN ah % 2048 WHEN 1 THEN (ah // 2048) % 2048
       |    WHEN 2 THEN (ah // 4194304) % 2048 ELSE ah // 8589934592 END AS key
       |  FROM p, (SELECT unnest([0, 1, 2, 3]) AS band))""".stripMargin

  // cdcFpsSql's algebra over the BINARY fixture's byte lists, mask 16
  // (~16-byte expected chunks over the 68-byte blobs).
  private val binCdcFpsSql: String =
    s"""c AS (SELECT doc_id, source, $synthCpsSql AS cps FROM documents),
       |cut AS (SELECT doc_id, source, cps,
       |    list_filter(range(8, len(cps)), i ->
       |      (list_reduce(list_transform(range(0, 8), j ->
       |         cps[i - j] * ([1, 31, 961, 29791, 923521, 28629151,
       |                        887503681, 512613922])[j + 1]),
       |        (a, x) -> a + x) % 1000000007) % 16 = 0) AS cuts
       |  FROM c),
       |fps AS MATERIALIZED (SELECT doc_id, source,
       |    list_transform(range(1, len(cuts) + 2), k ->
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        cps[(CASE WHEN k = 1 THEN 1 ELSE cuts[k - 1] + 1 END):
       |            (CASE WHEN k = len(cuts) + 1 THEN len(cps) ELSE cuts[k] END)]),
       |        (a, x) -> (a * 31 + x) % 1000000007)) AS chunk_fps
       |  FROM cut)""".stripMargin

  // CDC chunking re-derived from first principles: the same 31^j
  // pow table (mod 1e9+7), the same cut rule (after 0-based idx ∈
  // [7, n−2] when the 8-window rolling hash ≡ 0 mod 64), the same
  // (a·31+cp) chunk folds over the 1-based slices between cuts.
  // MATERIALIZED: both consumers fan out of `fps`, and the chunk-fold
  // chain must not re-expand per reference (the mutualSql precedent).
  private val cdcFpsSql: String =
    """c AS (SELECT doc_id, source,
      |    list_transform(string_split(text, ''), ch -> CAST(unicode(ch) AS BIGINT)) AS cps
      |  FROM documents WHERE len(text) > 0),
      |cut AS (SELECT doc_id, source, cps,
      |    list_filter(range(8, len(cps)), i ->
      |      (list_reduce(list_transform(range(0, 8), j ->
      |         cps[i - j] * ([1, 31, 961, 29791, 923521, 28629151,
      |                        887503681, 512613922])[j + 1]),
      |        (a, x) -> a + x) % 1000000007) % 64 = 0) AS cuts
      |  FROM c),
      |fps AS MATERIALIZED (SELECT doc_id, source,
      |    list_transform(range(1, len(cuts) + 2), k ->
      |      list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        cps[(CASE WHEN k = 1 THEN 1 ELSE cuts[k - 1] + 1 END):
      |            (CASE WHEN k = len(cuts) + 1 THEN len(cps) ELSE cuts[k] END)]),
      |        (a, x) -> (a * 31 + x) % 1000000007)) AS chunk_fps
      |  FROM cut)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "mm_bin_scene_cuts" ->
      """WITH c AS (SELECT doc_id, list_concat(
        |    list_transform(range(0, 64), i -> (doc_id * 7) % 256),
        |    list_transform(range(0, 64), i ->
        |      (((((doc_id // 4) * 2 + ((i // 16) % 2)) * 40503
        |           + ((i % 16) + 1) * 104729) % 2147483647)
        |         * ((((doc_id // 4) * 2 + ((i // 16) % 2)) * 40503
        |           + ((i % 16) + 1) * 104729) % 2147483647)
        |         // 8388608) % 256)) AS cps FROM documents),
        |f AS (SELECT doc_id, b,
        |    list_transform(range(0, 16), bb -> CAST(len(list_filter(
        |      cps[(b - 1) * 16 + 1 : b * 16], v -> v // 16 = bb)) AS BIGINT))
        |      AS hist
        |  FROM c, (SELECT unnest(range(1, 9)) AS b)),
        |p AS (SELECT a.doc_id, CAST(a.b AS BIGINT) AS boundary,
        |    CAST(16 AS BIGINT) AS frame_len,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 17), i -> abs(a.hist[i] - x.hist[i]))),
        |      (s, v) -> s + v) AS l1
        |  FROM f a JOIN f x ON x.doc_id = a.doc_id AND x.b = a.b + 1)
        |SELECT doc_id, boundary, frame_len, l1, 2 * l1 > frame_len AS is_cut
        |FROM p""".stripMargin,
    "mm_bin_sharpness" ->
      s"""WITH c AS (SELECT doc_id, $synthCpsSql AS cps FROM documents),
         |s AS (SELECT doc_id, CAST(len(cps) AS BIGINT) AS n_bytes,
         |    CAST(COALESCE(list_sum(list_transform(range(2, len(cps)),
         |      i -> abs(cps[i + 1] - 2 * cps[i] + cps[i - 1]))), 0) AS BIGINT)
         |      AS lap_energy
         |  FROM c),
         |m AS (SELECT doc_id, n_bytes, lap_energy,
         |    CASE WHEN n_bytes < 3 THEN 0
         |         ELSE (1000 * lap_energy) // (n_bytes - 2) END AS sharp_milli
         |  FROM s),
         |bands AS (SELECT least(15, sharp_milli // 10000) AS band,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(lap_energy) AS BIGINT) AS sum_energy,
         |    CAST(MIN(sharp_milli) AS BIGINT) AS min_milli,
         |    CAST(MAX(sharp_milli) AS BIGINT) AS max_milli
         |  FROM m GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_tot FROM bands)
         |SELECT CAST(band AS BIGINT) AS band, n_docs, sum_energy, min_milli,
         |  max_milli, (1000 * n_docs) // n_tot AS share_milli
         |FROM bands CROSS JOIN tot""".stripMargin,
    "mm_bin_runs" ->
      s"""WITH cp AS (SELECT doc_id, $synthCpsSql AS cps FROM documents),
         |r AS (SELECT doc_id, CAST(len(cps) AS BIGINT) AS nb, cps,
         |    list_concat([CAST(1 AS BIGINT)],
         |      list_filter(range(2, len(cps) + 1), i -> cps[i] <> cps[i - 1]))
         |      AS starts
         |  FROM cp),
         |runs AS (SELECT doc_id, nb AS n_bytes,
         |    list_transform(range(1, len(starts) + 1),
         |      j -> CASE WHEN j = len(starts) THEN len(cps) + 1 - starts[j]
         |           ELSE starts[j + 1] - starts[j] END) AS rl
         |  FROM r),
         |m AS (SELECT doc_id, n_bytes,
         |    CASE WHEN n_bytes = 0 THEN 0 ELSE CAST(len(rl) AS BIGINT) END
         |      AS n_runs,
         |    CASE WHEN n_bytes = 0 THEN 0
         |         ELSE CAST(list_max(rl) AS BIGINT) END AS max_run,
         |    CASE WHEN n_bytes = 0 THEN 0
         |         ELSE CAST(COALESCE(list_sum(list_filter(rl, x -> x >= 8)), 0)
         |           AS BIGINT) END AS run8_bytes
         |  FROM runs)
         |SELECT doc_id, n_bytes, n_runs, max_run, run8_bytes,
         |  CASE WHEN n_bytes = 0 THEN 0
         |       ELSE (1000 * run8_bytes) // n_bytes END AS dead_air_milli,
         |  max_run >= 16 AS padded
         |FROM m""".stripMargin,
    "mm_bin_audio_dupes" ->
      s"""$binAudioBandSql
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.ah, b.ah)) AS BIGINT) AS hamming
         |FROM b_t a JOIN b_t b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ah, b.ah)) <= 3""".stripMargin,
    "mm_bin_audio_dupes_capped" ->
      s"""$binAudioBandSql,
         |kept AS (SELECT band, key FROM b_t GROUP BY band, key HAVING COUNT(*) <= 8),
         |cb AS (SELECT doc_id, ah, band, key FROM b_t JOIN kept USING (band, key))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.ah, b.ah)) AS BIGINT) AS hamming
         |FROM cb a JOIN cb b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ah, b.ah)) <= 3""".stripMargin,
    "mm_bin_cdc_chunks" ->
      s"""WITH $binCdcFpsSql
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
         |  CAST((1000 * (COUNT(*) - COUNT(DISTINCT fp))) // COUNT(*) AS BIGINT)
         |    AS dup_milli
         |FROM (SELECT source, unnest(chunk_fps) AS fp FROM fps)
         |GROUP BY 1""".stripMargin,
    "mm_bin_chunk_overlap" ->
      s"""WITH $binCdcFpsSql,
         |sf AS MATERIALIZED (SELECT DISTINCT source, fp FROM
         |       (SELECT source, unnest(chunk_fps) AS fp FROM fps)),
         |n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_fp FROM sf GROUP BY 1),
         |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
         |            CAST(COUNT(*) AS BIGINT) AS shared
         |          FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
         |          GROUP BY 1, 2)
         |SELECT src_a, src_b, shared, na.n_fp AS n_a, nb.n_fp AS n_b,
         |  CAST((1000 * shared) // least(na.n_fp, nb.n_fp) AS BIGINT)
         |    AS containment_milli
         |FROM pairs
         |JOIN n na ON na.source = src_a
         |JOIN n nb ON nb.source = src_b
         |WHERE shared >= 2""".stripMargin,
    "mm_byte_entropy" -> {
      def mbSql(q: String): String =
        s"(CAST((length(bin($q)) - 1) * 1000 AS BIGINT) + " +
          s"(($q - (CAST(1 AS BIGINT) << (length(bin($q)) - 1))) * 1000) // " +
          s"(CAST(1 AS BIGINT) << (length(bin($q)) - 1)))"
      s"""WITH c AS (SELECT doc_id, $cpsSql AS cps FROM documents),
         |n AS (SELECT doc_id, CAST(len(cps) AS BIGINT) AS n_bytes FROM c),
         |e AS (SELECT doc_id, unnest(cps) AS cp FROM c),
         |h AS (SELECT doc_id, cp // 16 AS b, CAST(COUNT(*) AS BIGINT) AS cc
         |  FROM e GROUP BY 1, 2),
         |t AS (SELECT h.doc_id, n_bytes, cc,
         |    cc * (${mbSql("n_bytes")} - ${mbSql("cc")}) AS term
         |  FROM h JOIN n ON h.doc_id = n.doc_id)
         |SELECT doc_id, n_bytes, CAST(COUNT(*) AS BIGINT) AS n_bins,
         |  CASE WHEN n_bytes = 0 THEN 0
         |       ELSE CAST(SUM(term) AS BIGINT) // n_bytes END AS entropy_milli
         |FROM t GROUP BY doc_id, n_bytes""".stripMargin
    },
    "mm_phash_sweep" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, substr(text, 1, len(text) - 1) || '~'
         |  FROM documents),
         |c AS (SELECT doc_id, $cpsSql AS cps FROM corpus),
         |seg AS (SELECT doc_id,
         |  list_transform(range(0, 32), j -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    cps[(j * len(cps)) // 32 + 1 : ((j + 1) * len(cps)) // 32]),
         |    (a, b) -> a + b)) AS s,
         |  list_transform(range(0, 32),
         |    j -> ((j + 1) * len(cps)) // 32 - (j * len(cps)) // 32) AS l
         |  FROM c),
         |p AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(range(0, 31), j -> CASE
         |    WHEN s[j+2] * l[j+1] > s[j+1] * l[j+2]
         |    THEN CAST(power(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
         |  (a, b) -> a + b) AS ph FROM seg),
         |b_t AS (SELECT doc_id, ph, band, CASE band
         |    WHEN 0 THEN ph % 1024 WHEN 1 THEN (ph // 1024) % 1024
         |    ELSE ph // 1048576 END AS key
         |  FROM p, (SELECT unnest([0, 1, 2]) AS band)),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
         |  FROM b_t a JOIN b_t b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.ph, b.ph)) <= 2),
         |pl AS (SELECT hamming,
         |    CASE WHEN id_b = id_a + 1000000 THEN 1 ELSE 0 END AS planted
         |  FROM pairs),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |f AS (SELECT
         |    CAST(SUM(CASE WHEN hamming <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         |    CAST(SUM(CASE WHEN hamming <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(COUNT(*) AS BIGINT) AS c2,
         |    CAST(SUM(CASE WHEN hamming <= 0 THEN planted ELSE 0 END) AS BIGINT)
         |      AS p0,
         |    CAST(SUM(CASE WHEN hamming <= 1 THEN planted ELSE 0 END) AS BIGINT)
         |      AS p1,
         |    CAST(SUM(planted) AS BIGINT) AS p2
         |  FROM pl),
         |o AS (SELECT 0 AS radius, c0 AS n_pairs, p0 AS n_planted FROM f
         |  UNION ALL SELECT 1, c1, p1 FROM f
         |  UNION ALL SELECT 2, c2, p2 FROM f)
         |SELECT CAST(radius AS BIGINT) AS radius, n_pairs, n_planted,
         |  (1000 * n_planted) // n_docs AS recall_milli,
         |  CASE WHEN n_pairs = 0 THEN 0
         |       ELSE (1000 * n_planted) // n_pairs END AS precision_milli
         |FROM o CROSS JOIN nd""".stripMargin,
    "mm_byte_runs" ->
      s"""WITH c AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 3000000, text || repeat('~', 32)
         |    FROM documents WHERE doc_id % 25 = 0),
         |cp AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS nb,
         |    $cpsSql AS cps FROM c),
         |r AS (SELECT doc_id, nb, cps,
         |    list_concat([CAST(1 AS BIGINT)],
         |      list_filter(range(2, len(cps) + 1), i -> cps[i] <> cps[i - 1]))
         |      AS starts
         |  FROM cp),
         |runs AS (SELECT doc_id, nb AS n_bytes,
         |    list_transform(range(1, len(starts) + 1),
         |      j -> CASE WHEN j = len(starts) THEN len(cps) + 1 - starts[j]
         |           ELSE starts[j + 1] - starts[j] END) AS rl
         |  FROM r),
         |m AS (SELECT doc_id, n_bytes,
         |    CASE WHEN n_bytes = 0 THEN 0 ELSE CAST(len(rl) AS BIGINT) END
         |      AS n_runs,
         |    CASE WHEN n_bytes = 0 THEN 0
         |         ELSE CAST(list_max(rl) AS BIGINT) END AS max_run,
         |    CASE WHEN n_bytes = 0 THEN 0
         |         ELSE CAST(COALESCE(list_sum(list_filter(rl, x -> x >= 8)), 0)
         |           AS BIGINT) END AS run8_bytes
         |  FROM runs)
         |SELECT doc_id, n_bytes, n_runs, max_run, run8_bytes,
         |  CASE WHEN n_bytes = 0 THEN 0
         |       ELSE (1000 * run8_bytes) // n_bytes END AS dead_air_milli,
         |  max_run >= 16 AS padded
         |FROM m""".stripMargin,
    "mm_sharpness" ->
      s"""WITH c AS (SELECT doc_id, $cpsSql AS cps FROM documents),
         |s AS (SELECT doc_id, CAST(len(cps) AS BIGINT) AS n_bytes,
         |    CAST(COALESCE(list_sum(list_transform(range(2, len(cps)),
         |      i -> abs(cps[i + 1] - 2 * cps[i] + cps[i - 1]))), 0) AS BIGINT)
         |      AS lap_energy
         |  FROM c),
         |m AS (SELECT doc_id, n_bytes, lap_energy,
         |    CASE WHEN n_bytes < 3 THEN 0
         |         ELSE (1000 * lap_energy) // (n_bytes - 2) END AS sharp_milli
         |  FROM s),
         |bands AS (SELECT least(15, sharp_milli // 10000) AS band,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(lap_energy) AS BIGINT) AS sum_energy,
         |    CAST(MIN(sharp_milli) AS BIGINT) AS min_milli,
         |    CAST(MAX(sharp_milli) AS BIGINT) AS max_milli
         |  FROM m GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_tot FROM bands)
         |SELECT CAST(band AS BIGINT) AS band, n_docs, sum_energy, min_milli,
         |  max_milli, (1000 * n_docs) // n_tot AS share_milli
         |FROM bands CROSS JOIN tot""".stripMargin,
    "mm_tile_hash" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |spliced AS (SELECT doc_id + 2000000 AS doc_id,
        |    substring(text, 1, 8 * (length(text) // 16))
        |      || substring(text, 1, 8 * (length(text) // 16)) AS text
        |  FROM base WHERE doc_id % 40 = 0 AND length(text) >= 16),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM spliced),
        |sized AS (SELECT doc_id, text, length(text) // 16 AS tw
        |  FROM corpus WHERE length(text) >= 16),
        |tiles AS (SELECT DISTINCT doc_id,
        |    md5(substring(text, CAST(t.range AS BIGINT) * tw + 1, tw))
        |      AS tile_md5
        |  FROM sized CROSS JOIN range(0, 16) t),
        |rare AS (SELECT tile_md5 FROM tiles GROUP BY tile_md5
        |  HAVING COUNT(*) <= 50),
        |keep AS (SELECT doc_id, tiles.tile_md5 FROM tiles
        |  JOIN rare ON tiles.tile_md5 = rare.tile_md5)
        |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared_tiles
        |FROM keep x JOIN keep y ON x.tile_md5 = y.tile_md5
        |  AND x.doc_id < y.doc_id
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 4""".stripMargin,
    "mm_batch_pack" ->
      s"""WITH c AS (SELECT doc_id, $cpsSql AS cps FROM documents),
         |m AS (SELECT doc_id,
         |        16 + CAST(len(cps) AS BIGINT) % 17 AS w,
         |        16 + CAST(list_aggregate(cps, 'sum') AS BIGINT) % 13 AS h
         |      FROM c),
         |b AS (SELECT doc_id, w, h, (w * 4) // h AS bucket,
         |        doc_id // 2000 AS shard FROM m),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY bucket, shard ORDER BY doc_id) AS seq FROM b)
         |SELECT bucket, shard, (seq - 1) // 8 AS batch,
         |  COUNT(*) AS n_imgs, CAST(SUM(w * h) AS BIGINT) AS sum_pixels,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM r GROUP BY 1, 2, 3""".stripMargin,
    "mm_cdc_chunks" ->
      s"""WITH $cdcFpsSql
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
         |  CAST((1000 * (COUNT(*) - COUNT(DISTINCT fp))) // COUNT(*) AS BIGINT)
         |    AS dup_milli
         |FROM (SELECT source, unnest(chunk_fps) AS fp FROM fps)
         |GROUP BY 1""".stripMargin,
    "mm_chunk_overlap" ->
      s"""WITH $cdcFpsSql,
         |sf AS MATERIALIZED (SELECT DISTINCT source, fp FROM
         |       (SELECT source, unnest(chunk_fps) AS fp FROM fps)),
         |n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_fp FROM sf GROUP BY 1),
         |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
         |            CAST(COUNT(*) AS BIGINT) AS shared
         |          FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
         |          GROUP BY 1, 2)
         |SELECT src_a, src_b, shared, na.n_fp AS n_a, nb.n_fp AS n_b,
         |  CAST((1000 * shared) // least(na.n_fp, nb.n_fp) AS BIGINT)
         |    AS containment_milli
         |FROM pairs
         |JOIN n na ON na.source = src_a
         |JOIN n nb ON nb.source = src_b
         |WHERE shared >= 2""".stripMargin,
    "mm_audio_segments" ->
      """WITH f0 AS (SELECT doc_id, text,
        |             greatest(1, CAST(length(text) // 16 AS BIGINT)) AS nf
        |           FROM documents),
        |fr AS (SELECT doc_id, unnest(range(0, nf)) AS fi, text FROM f0),
        |en AS (SELECT doc_id, fi,
        |         CAST(len(list_filter(
        |           list_transform(string_split(substr(text, CAST(fi * 16 + 1 AS BIGINT), 16), ''),
        |             ch -> unicode(ch)),
        |           b -> b >= 64 AND b < 128)) AS BIGINT) AS letters
        |       FROM fr),
        |act AS (SELECT doc_id, fi, letters FROM en WHERE letters * 2 > 16),
        |r AS (SELECT doc_id, fi, letters,
        |        fi - row_number() OVER (PARTITION BY doc_id ORDER BY fi) AS g
        |      FROM act)
        |SELECT doc_id, CAST(MIN(fi) AS BIGINT) AS seg_start,
        |       CAST(COUNT(*) AS BIGINT) AS n_frames,
        |       CAST(SUM(letters) AS BIGINT) AS n_letters
        |FROM r GROUP BY doc_id, g""".stripMargin,
    "mm_frames_sql" ->
      """WITH c AS (SELECT doc_id, text, greatest(1, len(text) // 8) AS sz
        |           FROM documents)
        |SELECT doc_id, CAST(b - 1 AS BIGINT) AS frame_idx,
        |  CAST(len(substr(text, CAST((b-1)*sz + 1 AS BIGINT),
        |    CAST(sz AS BIGINT))) AS BIGINT) AS n_frame_bytes,
        |  md5(substr(text, CAST((b-1)*sz + 1 AS BIGINT),
        |    CAST(sz AS BIGINT))) AS frame_md5
        |FROM c, (SELECT unnest(range(1, 9)) AS b)""".stripMargin,
    "mm_scene_cuts" ->
      """WITH m AS (SELECT doc_id, lower(text) || upper(text) AS mt FROM documents),
        |c AS (SELECT doc_id, mt, greatest(1, len(mt) // 8) AS sz FROM m),
        |f AS (SELECT doc_id, sz, b,
        |        list_transform(range(0, 16), bb -> CAST(len(list_filter(
        |          list_transform(string_split(
        |            substr(mt, CAST((b-1)*sz + 1 AS BIGINT), CAST(sz AS BIGINT)), ''),
        |            ch -> unicode(ch)),
        |          v -> v // 16 = bb)) AS BIGINT)) AS hist
        |      FROM c, (SELECT unnest(range(1, 9)) AS b)),
        |p AS (SELECT a.doc_id, CAST(a.b AS BIGINT) AS boundary,
        |        CAST(a.sz AS BIGINT) AS frame_len,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(range(1, 17), i -> abs(a.hist[i] - x.hist[i]))),
        |          (s, v) -> s + v) AS l1
        |      FROM f a JOIN f x ON x.doc_id = a.doc_id AND x.b = a.b + 1)
        |SELECT doc_id, boundary, frame_len, l1, 2 * l1 > frame_len AS is_cut
        |FROM p""".stripMargin,
    "mm_audio_dupes" ->
      s"""$audioBandSql
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.ah, b.ah)) AS BIGINT) AS hamming
         |FROM b_t a JOIN b_t b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ah, b.ah)) <= 3""".stripMargin,
    "mm_audio_dupes_capped" ->
      s"""$audioBandSql,
         |kept AS (SELECT band, key FROM b_t GROUP BY band, key HAVING COUNT(*) <= 8),
         |cb AS (SELECT doc_id, ah, band, key FROM b_t JOIN kept USING (band, key))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.ah, b.ah)) AS BIGINT) AS hamming
         |FROM cb a JOIN cb b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ah, b.ah)) <= 3""".stripMargin,
    // 32 equal byte segments (1-based inclusive slices), cross-multiplied
    // mean-gradient bits, then the 3-band (10/10/11-bit) pigeonhole join —
    // the exact arithmetic of byteSegGradHash + hammingPairs(31, 3, 2).
    "mm_bin_frames" ->
      s"""WITH c AS (SELECT doc_id, $synthCpsSql AS cps FROM documents),
         |f AS (SELECT doc_id, fi, cps[fi * 8 + 1 : fi * 8 + 8] AS fb
         |  FROM c, (SELECT unnest([0, 3, 6, 7]) AS fi))
         |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
         |  CAST(len(fb) AS BIGINT) AS n_bytes,
         |  CAST(list_aggregate(fb, 'sum') AS BIGINT) AS sum_bytes,
         |  CAST(list_aggregate(fb, 'min') AS INTEGER) AS min_byte,
         |  CAST(list_aggregate(fb, 'max') AS INTEGER) AS max_byte
         |FROM f""".stripMargin,
    "mm_bin_tiles" ->
      s"""WITH c AS (SELECT doc_id, $synthCpsSql AS cps FROM documents
         |  WHERE doc_id % 5 <> 0),
         |t0 AS (SELECT DISTINCT doc_id,
         |    cps[5 + 16 * t : 4 + 16 * (t + 1)] AS tile
         |  FROM c, (SELECT unnest(range(0, 4)) AS t)),
         |keep AS (SELECT tile FROM t0 GROUP BY tile HAVING COUNT(*) <= 8),
         |t AS (SELECT t0.doc_id, t0.tile FROM t0 JOIN keep USING (tile))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared_tiles
         |FROM t a JOIN t b ON a.tile = b.tile AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,
    "mm_bin_dup_groups" ->
      s"""WITH RECURSIVE c AS (SELECT doc_id, $synthCpsSql AS cps FROM documents
         |  WHERE doc_id % 5 <> 0),
         |t0 AS (SELECT DISTINCT doc_id,
         |    cps[5 + 16 * t : 4 + 16 * (t + 1)] AS tile
         |  FROM c, (SELECT unnest(range(0, 4)) AS t)),
         |keep AS (SELECT tile FROM t0 GROUP BY tile HAVING COUNT(*) <= 8),
         |t AS (SELECT t0.doc_id, t0.tile FROM t0 JOIN keep USING (tile)),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM t a JOIN t b ON a.tile = b.tile AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |        UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (SELECT a, b FROM sym
         |          UNION
         |          SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         |lab AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster_rep
         |        FROM reach GROUP BY a)
         |SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS sz
         |FROM lab GROUP BY 1""".stripMargin,
    "mm_bin_sniff" ->
      """WITH s AS (SELECT
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS annotated,
        |    CASE (CASE WHEN doc_id % 11 = 0 THEN (doc_id + 1) % 3
        |          ELSE doc_id % 3 END)
        |      WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
        |      END AS sniffed
        |  FROM documents)
        |SELECT annotated, sniffed, CAST(COUNT(*) AS BIGINT) AS n,
        |  annotated = sniffed AS is_diagonal
        |FROM s GROUP BY 1, 2""".stripMargin,
    "mm_bin_entropy" -> {
      def mbSql(q: String): String =
        s"(CAST((length(bin($q)) - 1) * 1000 AS BIGINT) + " +
          s"(($q - (CAST(1 AS BIGINT) << (length(bin($q)) - 1))) * 1000) // " +
          s"(CAST(1 AS BIGINT) << (length(bin($q)) - 1)))"
      s"""WITH c AS (SELECT doc_id, $synthCpsSql AS cps FROM documents),
         |n AS (SELECT doc_id, CAST(len(cps) AS BIGINT) AS n_bytes FROM c),
         |e AS (SELECT doc_id, unnest(cps) AS cp FROM c),
         |h AS (SELECT doc_id, cp // 16 AS b, CAST(COUNT(*) AS BIGINT) AS cc
         |  FROM e GROUP BY 1, 2),
         |t AS (SELECT h.doc_id, n_bytes, cc,
         |    cc * (${mbSql("n_bytes")} - ${mbSql("cc")}) AS term
         |  FROM h JOIN n ON h.doc_id = n.doc_id)
         |SELECT doc_id, n_bytes, CAST(COUNT(*) AS BIGINT) AS n_bins,
         |  CASE WHEN n_bytes = 0 THEN 0
         |       ELSE CAST(SUM(term) AS BIGINT) // n_bytes END AS entropy_milli
         |FROM t GROUP BY doc_id, n_bytes""".stripMargin
    },
    "mm_bin_phash" ->
      s"""WITH c0 AS (SELECT doc_id, $synthCpsSql AS cps FROM documents
         |  WHERE doc_id % 5 <> 0),
         |c AS (SELECT doc_id, cps FROM c0
         |  UNION ALL SELECT doc_id + 1000000,
         |    list_concat(cps[1:67], [CAST(90 AS BIGINT)]) FROM c0),
         |seg AS (SELECT doc_id,
         |  list_transform(range(0, 32), j -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    cps[(j * len(cps)) // 32 + 1 : ((j + 1) * len(cps)) // 32]),
         |    (a, b) -> a + b)) AS s,
         |  list_transform(range(0, 32),
         |    j -> ((j + 1) * len(cps)) // 32 - (j * len(cps)) // 32) AS l
         |  FROM c),
         |p AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(range(0, 31), j -> CASE
         |    WHEN s[j+2] * l[j+1] > s[j+1] * l[j+2]
         |    THEN CAST(power(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
         |  (a, b) -> a + b) AS ph FROM seg),
         |b_t AS (SELECT doc_id, ph, band, CASE band
         |    WHEN 0 THEN ph % 1024 WHEN 1 THEN (ph // 1024) % 1024
         |    ELSE ph // 1048576 END AS key
         |  FROM p, (SELECT unnest([0, 1, 2]) AS band))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
         |FROM b_t a JOIN b_t b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ph, b.ph)) <= 2""".stripMargin,
    "mm_phash" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, substr(text, 1, len(text) - 1) || '~'
         |  FROM documents),
         |c AS (SELECT doc_id, $cpsSql AS cps FROM corpus),
         |seg AS (SELECT doc_id,
         |  list_transform(range(0, 32), j -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    cps[(j * len(cps)) // 32 + 1 : ((j + 1) * len(cps)) // 32]),
         |    (a, b) -> a + b)) AS s,
         |  list_transform(range(0, 32),
         |    j -> ((j + 1) * len(cps)) // 32 - (j * len(cps)) // 32) AS l
         |  FROM c),
         |p AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(range(0, 31), j -> CASE
         |    WHEN s[j+2] * l[j+1] > s[j+1] * l[j+2]
         |    THEN CAST(power(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
         |  (a, b) -> a + b) AS ph FROM seg),
         |b_t AS (SELECT doc_id, ph, band, CASE band
         |    WHEN 0 THEN ph % 1024 WHEN 1 THEN (ph // 1024) % 1024
         |    ELSE ph // 1048576 END AS key
         |  FROM p, (SELECT unnest([0, 1, 2]) AS band))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
         |FROM b_t a JOIN b_t b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ph, b.ph)) <= 2""".stripMargin,
    "mm_phash_clusters" ->
      s"""WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, substr(text, 1, len(text) - 1) || '~'
         |  FROM documents),
         |c AS (SELECT doc_id, $cpsSql AS cps FROM corpus),
         |seg AS (SELECT doc_id,
         |  list_transform(range(0, 32), j -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    cps[(j * len(cps)) // 32 + 1 : ((j + 1) * len(cps)) // 32]),
         |    (a, b) -> a + b)) AS s,
         |  list_transform(range(0, 32),
         |    j -> ((j + 1) * len(cps)) // 32 - (j * len(cps)) // 32) AS l
         |  FROM c),
         |p AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(range(0, 31), j -> CASE
         |    WHEN s[j+2] * l[j+1] > s[j+1] * l[j+2]
         |    THEN CAST(power(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
         |  (a, b) -> a + b) AS ph FROM seg),
         |b_t AS (SELECT doc_id, ph, band, CASE band
         |    WHEN 0 THEN ph % 1024 WHEN 1 THEN (ph // 1024) % 1024
         |    ELSE ph // 1048576 END AS key
         |  FROM p, (SELECT unnest([0, 1, 2]) AS band)),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM b_t a JOIN b_t b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.ph, b.ph)) <= 2),
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |        UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (SELECT a, b FROM sym
         |          UNION
         |          SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         |lab AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster_rep
         |        FROM reach GROUP BY a)
         |SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS sz
         |FROM lab GROUP BY 1""".stripMargin,
    "mm_container_sniff" ->
      """WITH d AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS annotated,
        |    ['PNGX', 'RIFF', 'FTYP'][CAST(
        |      (CASE WHEN doc_id % 11 = 0 THEN (doc_id + 1) % 3
        |       ELSE doc_id % 3 END) + 1 AS INTEGER)] || text AS payload
        |  FROM documents),
        |s AS (SELECT annotated,
        |    CASE substring(payload, 1, 4)
        |      WHEN 'PNGX' THEN 'image' WHEN 'RIFF' THEN 'audio'
        |      WHEN 'FTYP' THEN 'video' ELSE 'unknown' END AS sniffed
        |  FROM d)
        |SELECT annotated, sniffed, CAST(COUNT(*) AS BIGINT) AS n,
        |  annotated = sniffed AS is_diagonal
        |FROM s GROUP BY 1, 2""".stripMargin,
    "mm_meta_conflict" ->
      """WITH corpus AS (SELECT doc_id, source, text FROM documents
        |                UNION ALL
        |                SELECT doc_id + 1000000, 'mirror', text
        |                FROM documents WHERE doc_id % 7 = 0)
        |SELECT md5(text) AS content_md5,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |  MIN(source) AS src_min, MAX(source) AS src_max
        |FROM corpus GROUP BY 1 HAVING COUNT(DISTINCT source) > 1""".stripMargin,
    "mm_modal_mix" ->
      """WITH t AS (SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |             ELSE 'video' END AS modality,
        |             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |             md5(text) AS h
        |           FROM documents),
        |ph AS (SELECT modality, h, CAST(COUNT(*) AS BIGINT) AS c,
        |         CAST(SUM(n_bytes) AS BIGINT) AS b
        |       FROM t GROUP BY modality, h),
        |mix AS (SELECT modality, CAST(SUM(c) AS BIGINT) AS n_blobs,
        |          CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |          CAST(SUM(b) AS BIGINT) AS total_bytes,
        |          CAST(MAX(b // c) AS BIGINT) AS max_bytes
        |        FROM ph GROUP BY modality),
        |tot AS (SELECT CAST(SUM(total_bytes) AS BIGINT) AS t FROM mix)
        |SELECT modality, n_blobs, n_distinct,
        |  (1000 * (n_blobs - n_distinct)) // n_blobs AS dup_milli,
        |  total_bytes, max_bytes,
        |  (1000 * total_bytes) // t AS byte_share_milli
        |FROM mix, tot""".stripMargin,
    "mm_dominant_bin" ->
      s"""WITH c AS (SELECT doc_id, $cpsSql AS cps FROM documents),
         |h AS (SELECT doc_id, CAST(len(cps) AS BIGINT) AS n_bytes,
         |        list_transform(range(0, 16),
         |          b -> CAST(len(list_filter(cps, x -> x // 16 = b)) AS BIGINT)) AS counts
         |      FROM c),
         |d AS (SELECT doc_id, n_bytes,
         |        CAST(list_position(counts, list_aggregate(counts, 'max')) - 1
         |          AS BIGINT) AS dominant_bin,
         |        CAST(list_aggregate(counts, 'max') AS BIGINT) AS c_max
         |      FROM h)
         |SELECT dominant_bin, CAST(COUNT(*) AS BIGINT) AS n_blobs,
         |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
         |  CAST(SUM((c_max * 1000) // greatest(n_bytes, 1)) AS BIGINT)
         |    // CAST(COUNT(*) AS BIGINT) AS avg_share_milli
         |FROM d GROUP BY dominant_bin""".stripMargin,
    "mm_dedup" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |                UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT md5(text) AS content_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM corpus GROUP BY md5(text) HAVING COUNT(*) >= 2""".stripMargin,
    // nf=8, every=3 ⇒ sampled indices distinct([0,3,6] ++ [7]) = [0,3,6,7];
    // frame size = max(1, n_bytes // 8); substring clamps at the end on
    // both engines (empty slice ⇒ md5 of the empty string, equal).
    "mm_frames" ->
      """WITH f AS (SELECT doc_id, text, octet_length(encode(text)) AS nb FROM documents),
        |i AS (SELECT doc_id, text, greatest(1, nb // 8) AS sz,
        |             unnest([0, 3, 6, 7]) AS frame_idx FROM f)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |       CAST(octet_length(encode(substring(text, frame_idx*sz + 1, sz))) AS BIGINT)
        |         AS n_frame_bytes,
        |       md5(substring(text, frame_idx*sz + 1, sz)) AS frame_md5
        |FROM i""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |       md5(text) AS content_md5
        |FROM documents""".stripMargin,
    "mm_bytes" ->
      s"""WITH c AS (SELECT doc_id, $cpsSql AS cps FROM documents)
         |SELECT doc_id, CAST(len(cps) AS BIGINT) AS n_bytes,
         |       CAST(list_aggregate(cps, 'sum') AS BIGINT) AS sum_bytes,
         |       CAST(CASE WHEN len(cps) = 0 THEN 0 ELSE list_aggregate(cps, 'min') END AS INTEGER) AS min_byte,
         |       CAST(CASE WHEN len(cps) = 0 THEN 0 ELSE list_aggregate(cps, 'max') END AS INTEGER) AS max_byte
         |FROM c""".stripMargin,
    "mm_hist_sim" ->
      s"""WITH c AS (SELECT doc_id, $cpsSql AS cps FROM documents),
         |h AS (SELECT doc_id, $histSql AS hist FROM c)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       ${cosDSql("a.hist", "b.hist")} AS cos
         |FROM h a JOIN h b ON b.doc_id = a.doc_id + 1""".stripMargin)
}
