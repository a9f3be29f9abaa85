package graft.functions

import java.lang.reflect.Method
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** A plan-time integer argument of a [[Kernel]] and its valid range;
  * `long` when the kernel method takes it as a Java `long`. */
final case class KernelParam(name: String, lo: Long, hi: Long = Int.MaxValue, long: Boolean = false)

/** One native kernel, declared once in [[Kernels]]: its SQL name, the
  * [[HashKernels]] method it calls, its named inputs with their types,
  * its result type, its plan-time parameters and their ranges, and an
  * optional rule across those parameters. The Catalyst expression
  * ([[UnaryKernel]] / [[BinaryKernel]]), the Column function and the SQL
  * builder are all derived from it, so every path checks the same
  * arity, types and ranges and calls the same method.
  *
  * Equality is by name: a kernel deserialized on an executor equals its
  * table entry, so plans holding it compare as before.
  */
final case class Kernel(name: String, method: String, inputs: Seq[(String, DataType)],
    dataType: DataType, doc: String, params: Seq[KernelParam] = Nil,
    rule: Option[(String, Seq[Long] => Boolean)] = None) {

  def signature: String = s"$name(${(inputs.map(_._1) ++ params.map(_.name)).mkString(", ")})"
  def usage: String = s"$signature - $doc"

  /** The expression over `args` with parameter values `ps`. A wrong
    * count, a value outside its range or a broken rule fails here, at
    * plan time, naming the function, the parameter and the value. */
  def expr(args: Seq[Expression], ps: Seq[Long]): Expression = {
    Kernels.checkArity(signature, inputs.size + params.size, args.size + ps.size)
    params.zip(ps).foreach { case (p, v) =>
      if (v < p.lo || v > p.hi) fail(s"${p.name} = $v is outside ${p.lo}..${p.hi}")
    }
    rule.foreach { case (text, ok) =>
      if (!ok(ps)) fail(s"${params.map(_.name).zip(ps).map(p => s"${p._1} = ${p._2}")
        .mkString(", ")} breaks '$text'")
    }
    args match {
      case Seq(c) => UnaryKernel(this, ps, c)
      case Seq(l, r) => BinaryKernel(this, ps, l, r)
    }
  }

  /** The Column function: `Kernels.ShingleFps(toks)(3)`. */
  def apply(args: Column*)(ps: Long*): Column = toColumn(expr(args.map(toExpression), ps))

  /** The SQL builder: inputs first, then each parameter as an integer literal. */
  def sql(es: Seq[Expression]): Expression = {
    Kernels.checkArity(signature, inputs.size + params.size, es.size)
    val (args, lits) = es.splitAt(inputs.size)
    expr(args, params.zip(lits).map {
      case (_, Literal(v: Int, IntegerType)) => v.toLong
      case (_, Literal(v: Long, LongType)) => v
      case (p, e) => fail(s"${p.name} must be an integer literal, got ${e.sql}")
    })
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"$signature: $msg")

  /** The Java call the generated code emits: one static method call
    * with the parameters as literals (`3`, or `64L` for a long). */
  private[functions] def javaCall(args: Seq[String], ps: Seq[Long]): String = {
    val lits = params.zip(ps).map { case (p, v) => if (p.long) s"${v}L" else v.toString }
    s"graft.functions.HashKernels.$method(${(args ++ lits).mkString(", ")})"
  }

  /** The declared method, resolved from the declared types: a
    * declaration that does not match its kernel fails on first use. */
  @transient private lazy val target: Method = {
    val m = HashKernels.getClass.getMethod(method, (inputs.map(i => CodeGenerator.javaClass(i._2)) ++
      params.map(p => if (p.long) classOf[Long] else classOf[Int])): _*)
    require(m.getReturnType == CodeGenerator.javaClass(dataType),
      s"$name: HashKernels.$method returns ${m.getReturnType}, declared $dataType")
    m
  }

  /** The interpreted call: the same method, boxed arguments. */
  private[functions] def invoke(args: Seq[Any], ps: Seq[Long]): Any =
    target.invoke(HashKernels, (args.map(_.asInstanceOf[AnyRef]) ++ params.zip(ps).map {
      case (p, v) => if (p.long) Long.box(v) else Int.box(v.toInt)
    }): _*)

  override def equals(o: Any): Boolean = o match {
    case k: Kernel => k.name == name
    case _ => false
  }
  override def hashCode: Int = name.hashCode
}

/** What the unary and binary kernel expressions share: type, name,
  * input check, printing and the one kernel call. */
sealed trait KernelCall extends ExpectsInputTypes {
  def kernel: Kernel
  def params: Seq[Long]

  override def dataType: DataType = kernel.dataType
  override def prettyName: String = kernel.name

  /** The declared input types. A BIGINT input also takes a narrower
    * integral column, which the call widens (Java in generated code,
    * reflection when interpreted). */
  override def inputTypes: Seq[DataType] = kernel.inputs.map(_._2).zip(children).map {
    case (LongType, c) if Seq(IntegerType, ShortType, ByteType).contains(c.dataType) => c.dataType
    case (t, _) => t
  }

  /** Prints `name(child…, param…)`, as each hand-written class did. */
  override protected def stringArgs: Iterator[Any] = children.iterator ++ params.iterator

  protected def call(args: String*): String = kernel.javaCall(args, params)
  protected def invoke(args: Any*): Any = kernel.invoke(args, params)
}

/** A declared [[Kernel]] over one input. */
case class UnaryKernel(kernel: Kernel, params: Seq[Long], child: Expression)
    extends UnaryExpression with KernelCall {
  override def nullSafeEval(input: Any): Any = invoke(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => call(c))
  override protected def withNewChildInternal(c: Expression): UnaryKernel = copy(child = c)
}

/** A declared [[Kernel]] over two inputs. */
case class BinaryKernel(kernel: Kernel, params: Seq[Long], left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def nullSafeEval(a: Any, b: Any): Any = invoke(a, b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => call(a, b))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BinaryKernel =
    copy(left = l, right = r)
}

/** The kernel table: every native kernel of [[HashKernels]] declared
  * once. Adding a kernel means one entry here plus its `HashKernels`
  * method; its Catalyst expression, Column function and SQL function
  * (`graft.sql.GraftFunctions`) follow from the entry.
  *
  * Why native and not `functions._` composition: the sketch math
  * (shingle fingerprints → n minhashes → banded keys) nests three
  * higher-order functions. Spark HOFs are interpreted (never codegen'd)
  * AND re-evaluate their array argument on every lambda invocation once
  * CollapseProject inlines the producing expression — so the composed
  * column form recomputes the full shingle+fingerprint pipeline
  * `bands × hashes` times per row (measured: a 1000-doc corpus wedged
  * for >15 min). Each kernel expression evaluates its children exactly
  * once per row and runs ONE imperative pass.
  *
  * Codegen: the expression emits a single static
  * `graft.functions.HashKernels.<method>(child…, param…)` call, so it
  * participates in WholeStageCodegen like any built-in; the interpreted
  * path calls the same method.
  *
  * Every kernel's arithmetic is spelled identically in the DuckDB
  * oracle SQL (see graft.queries.DedupQueries / SimQueries): 64-bit
  * modular arithmetic and IEEE double left-folds are engine-portable,
  * so results hash-match bit-exactly.
  *
  * Hand-written beside the table, because they need more than it
  * declares: `CosineExpr` / `DotExpr` (element widths read from the
  * child types at plan time), `MultimodalOps.ResizePixelsExpr` (three
  * inputs, per-row dimensions), the generators of GeneratorExprs, and
  * the bloom pair of `graft.sql.GraftFunctions`.
  */
object Kernels {
  private val declared = scala.collection.mutable.ArrayBuffer.empty[Kernel]
  private def declare(k: Kernel): Kernel = { declared += k; k }

  private def int(name: String, lo: Long, hi: Long = Int.MaxValue) = KernelParam(name, lo, hi)
  private def long(name: String, lo: Long) = KernelParam(name, lo, Long.MaxValue, long = true)

  private val Toks = ArrayType(StringType)
  private val Longs = ArrayType(LongType)
  private val LongArray = ArrayType(LongType, containsNull = false)

  /** Whole-string polynomial content hash h = (h*31 + codepoint) mod P,
    * matching DuckDB's list_reduce over string_split(s,'') + unicode(). */
  val Fingerprint = declare(Kernel("graft_fingerprint", "fingerprint",
    Seq("str" -> StringType), LongType, "polynomial content hash"))

  /** Per-token polynomial fingerprints. */
  val TokenFps = declare(Kernel("graft_token_fps", "tokenFps",
    Seq("tokens" -> Toks), LongArray, "per-token fingerprints"))

  /** Fingerprint of each k-gram of tokens joined by single spaces — one
    * pass, no k-gram strings allocated (the space separator is folded
    * in as codepoint 32). Fewer than k tokens → empty array (matches
    * the guarded DuckDB spelling). */
  val ShingleFps = declare(Kernel("graft_shingle_fps", "shingleFps",
    Seq("tokens" -> Toks), LongArray, "k-gram shingle fingerprints", Seq(int("k", 1))))

  /** Fingerprints of every k-codepoint window — the character-level
    * n-gram unit for short-text dedup. */
  val CharShingleFps = declare(Kernel("graft_char_shingle_fps", "charShingleFps",
    Seq("str" -> StringType), LongArray, "k-codepoint shingle fingerprints", Seq(int("k", 1))))

  /** Broder sketch — n permutation-hashes h_i(f) = (f·a_i +
    * 104729·(i+1)) mod P with a_i drawn from [[HashKernels.MH_A]]
    * (independent splitmix64 constants — a linear-in-i family
    * correlates the per-position argmins; see the HashKernels comment),
    * min over the fp set; empty set → sentinel P. */
  val MinHashSig = declare(Kernel("graft_minhash_sig", "minhashSig",
    Seq("fps" -> Longs), LongArray, "n-hash MinHash signature",
    Seq(int("n", 1, HashKernels.MH_A.length))))

  /** LSH banding — band j's key is the seeded fold s = j;
    * s = (s*1000003 + sig[j*r + t]) mod P over the band's r signature
    * rows. */
  val BandKeys = declare(Kernel("graft_band_keys", "bandKeys",
    Seq("sig" -> Longs), LongArray, "banded LSH bucket keys", Seq(int("b", 1), int("r", 1))))

  /** Max occurrence count of any k-token gram — linear hash-map pass;
    * the Gopher-repetition mode count. */
  val ModalNgramCount = declare(Kernel("graft_modal_ngram_count", "modalNgramCount",
    Seq("tokens" -> Toks), LongType, "max occurrence count of any k-gram", Seq(int("k", 1))))

  /** Bit j of the signature is set iff the sum of per-fp votes (+1 if
    * bit j of fp set, else −1) is positive. */
  val SimHash = declare(Kernel("graft_simhash", "simhash",
    Seq("fps" -> Longs), LongType, "SimHash bit signature", Seq(int("bits", 1, 62))))

  /** Sign-random-projection LSH bucket (Charikar). Hyperplane component
    * for plane p, dim d is a deterministic cubic residue mapped into
    * [-1, 1): with x = p*4099 + d + 1, ((x² mod 999999937)·x mod
    * 999999937) / 499999968.5 − 1. The mix must be NON-linear in
    * (p, d): a linear h(p,d) = (a·p + b·d + c) mod m makes every plane
    * the same arithmetic progression over dims shifted by a per-plane
    * constant — measured plane correlations up to |cos| ≈ 0.99,
    * collapsing 2^bits buckets to a few hot ones (the skew the cap
    * guards exist for). The cubic keeps all intermediates < 2^63
    * (x ≤ 62·4099+dims, so x²·… ≤ ~2.5e14) because the DuckDB oracle
    * traps on BIGINT overflow rather than wrapping; measured max
    * |plane cos| ≈ 0.5 at 24 planes / 32 dims, bucket occupancy
    * ~Poisson. Bucket id folds the projection signs MSB-first:
    * acc = acc*2 + (proj > 0), so `bits` ≤ 63 keeps it a positive
    * long. Float vectors only. */
  val SrpBucket = declare(Kernel("graft_srp_bucket", "srpBucket",
    Seq("vec" -> ArrayType(FloatType)), LongType, "sign-random-projection LSH bucket",
    Seq(int("bits", 1, 63))))

  /** Window-min fingerprint selection — the winnowing/MOSS step between
    * k-gram hashing and cross-document pairing. */
  val WinnowMins = declare(Kernel("graft_winnow_mins", "winnowMins",
    Seq("fps" -> Longs), LongArray, "winnowing window-min fingerprint selection",
    Seq(int("w", 1))))

  /** [n_codepoints, distinct_chars, Σ k·⌊log2(n div k)⌋] — the one-pass
    * integer compression bound used as a text-quality signal. Array
    * return keeps it one kernel invocation; callers project the three
    * elements out immediately. */
  val CharEntropyBound = declare(Kernel("graft_char_entropy_bound", "charEntropyBound",
    Seq("str" -> StringType), LongArray,
    "[n_codepoints, distinct, sum k*floor(log2(n/k))] entropy lower bound"))

  /** Millibit fast-log — see [[HashKernels.log2Millis]] for semantics,
    * domain and the `length(bin(q)) − 1` oracle spelling. */
  val Log2Millis = declare(Kernel("graft_log2_millis", "log2Millis",
    Seq("q" -> LongType), LongType,
    "integer millibit log2: binade floor-log2 + piecewise-linear fraction"))

  /** Content-defined chunk fingerprints — see [[HashKernels.cdcChunkFps]]
    * for semantics and the oracle spelling. `w`/`mask` are the chunking
    * policy, not data. */
  val CdcChunkFps = declare(Kernel("graft_cdc_chunks", "cdcChunkFps",
    Seq("str" -> StringType), LongArray,
    "content-defined chunk fingerprints (rolling-hash cuts)", Seq(int("w", 2), long("mask", 2))))

  /** [[CdcChunkFps]] over BinaryType blobs — see [[HashKernels.cdcChunkFpsBin]]. */
  val CdcChunkFpsBin = declare(Kernel("graft_cdc_chunks_bin", "cdcChunkFpsBin",
    Seq("bin" -> BinaryType), LongArray,
    "content-defined chunk fingerprints over raw bytes", Seq(int("w", 2), long("mask", 2))))

  /** Delta+zigzag+varint byte cost of a long series — see
    * [[HashKernels.varintCost]] for semantics and the oracle spelling
    * (lag-window deltas + CASE zigzag + unpadded-binary length,
    * Relational.q_encode_cost). */
  val VarintCost = declare(Kernel("graft_varint_cost", "varintCost",
    Seq("longs" -> Longs), LongArray, "[n, raw_bytes, encoded_bytes] under delta+zigzag+varint"))

  /** Morton bit-interleave of two integer keys — the multi-dimensional
    * clustering key behind layout-driven data skipping (sort/bucket by
    * z, and a min-max index prunes on BOTH dimensions instead of just
    * the leading sort column). `bits` ≤ 31 keeps z in 63 bits;
    * [[HashKernels.zInterleave]]. */
  val ZOrder = declare(Kernel("graft_zorder", "zInterleave",
    Seq("a" -> LongType, "b" -> LongType), LongType,
    "Morton/Z-order bit interleave of two keys", Seq(int("bits", 1, 31))))

  /** Banded Sakoe–Chiba DTW distance between two equal-length integer
    * series ([[HashKernels.dtwBand]] — O(n·band) rolling-row DP; the
    * time-series sibling of [[EditWithin]]). */
  val DtwBand = declare(Kernel("graft_dtw", "dtwBand",
    Seq("a" -> Longs, "b" -> Longs), LongType,
    "banded Sakoe-Chiba DTW distance of integer series", Seq(int("band", 0))))

  /** Banded early-exit Levenshtein bound — [[HashKernels.editWithin]]
    * as a boolean predicate. */
  val EditWithin = declare(Kernel("graft_edit_within", "editWithin",
    Seq("a" -> StringType, "b" -> StringType), BooleanType,
    "banded early-exit levenshtein(a,b) <= k", Seq(int("k", 0))))

  /** Record-linkage similarity, bit-exact to DuckDB's
    * `jaro_winkler_similarity` ([[HashKernels.jaroWinkler]]) — the
    * fuzzy-compare half of blocked entity resolution (the blocking
    * equi-join bounds pairs; this scores them). */
  val JaroWinkler = declare(Kernel("graft_jaro_winkler", "jaroWinkler",
    Seq("a" -> StringType, "b" -> StringType), DoubleType,
    "Jaro-Winkler similarity (record linkage)"))

  /** Byte-level stats over a blob — n_bytes / sum / min / max are real
    * features (and oracle-checkable: for ASCII text payloads they equal
    * the codepoint stats DuckDB computes from the string). */
  val ByteStats = declare(Kernel("graft_byte_stats", "byteStats",
    Seq("bin" -> BinaryType), StructType(Seq(
      StructField("n_bytes", LongType, nullable = false),
      StructField("sum_bytes", LongType, nullable = false),
      StructField("min_byte", IntegerType, nullable = false),
      StructField("max_byte", IntegerType, nullable = false))),
    "n/sum/min/max over raw bytes"))

  private val divides256 = Some(("bins divides 256", (ps: Seq[Long]) => 256 % ps.head == 0))

  /** Normalized byte histogram (`bins` buckets) as float features — the
    * codec-free feature vector for any modality; feeds straight into
    * cosine / SRP-LSH. */
  val ByteHist = declare(Kernel("graft_byte_hist", "byteHist",
    Seq("bin" -> BinaryType), ArrayType(FloatType, containsNull = false),
    "normalized byte histogram", Seq(int("bins", 1, 256)), divides256))

  /** Integer twin of [[ByteHist]]: raw bucket counts — the all-integer
    * histogram for exact arithmetic downstream (frame L1 distances in
    * [[graft.queries.MultimodalQueries.mmBinSceneCuts]] never touch a
    * float, so the scene verdict can't flip on ulp). */
  val ByteHistCounts = declare(Kernel("graft_byte_hist_counts", "byteHistCounts",
    Seq("bin" -> BinaryType), LongArray,
    "integer byte-bucket counts", Seq(int("bins", 1, 256)), divides256))

  /** Perceptual hash over raw bytes — dHash's structure (gradients
    * between downscaled regions) applied codec-free: `segs` equal byte
    * segments, one MEAN-gradient bit per adjacent pair
    * ([[HashKernels.byteSegGradHash]], all-integer). Stable under
    * tail-local edits (an edit inside one segment can flip at most its
    * two adjacent gradient bits), discriminative across blobs
    * (positional structure, unlike a global histogram — on the test
    * corpus a 32-bin histogram hash collapses 500 docs to 4 values
    * while this spreads them to 500). Pairs via
    * [[graft.ext.DedupOps.hammingPairs]] banding — never all-pairs. */
  val BytePhash = declare(Kernel("graft_byte_phash", "byteSegGradHash",
    Seq("bin" -> BinaryType), LongType,
    "positional segment-gradient perceptual hash", Seq(int("segs", 2, 63))))

  /** Sharpness/blur screen over raw bytes — discrete-Laplacian energy
    * ([[HashKernels.byteLaplacianEnergy]], all-integer one-pass): the
    * quality gate a media-curation pipeline runs before admitting an
    * asset (blur ≈ low second-difference energy). */
  val ByteLaplacian = declare(Kernel("graft_byte_laplacian", "byteLaplacianEnergy",
    Seq("bin" -> BinaryType), LongType,
    "discrete-Laplacian (second-difference) energy"))

  /** Run-length profile — the silence/stuck-frame/padding screen
    * ([[HashKernels.byteRunStats]]): long constant runs are dead air in
    * audio, frozen frames in video, padding in containers — content
    * that costs storage and feature compute but trains nothing. */
  val ByteRuns = declare(Kernel("graft_byte_runs", "byteRunStats",
    Seq("bin" -> BinaryType), StructType(Seq(
      StructField("n_runs", LongType, nullable = false),
      StructField("max_run", LongType, nullable = false),
      StructField("run8_bytes", LongType, nullable = false))),
    "[n_runs, max_run, run8_bytes] run-length profile"))

  /** Audio-fingerprint analog over raw bytes: Haitsma–Kalker band-energy
    * bits ([[HashKernels.byteBandEnergyHash]] — `frames` time windows ×
    * `bands` byte-value energy bands, one second-order-difference sign
    * bit per adjacent (frame, band) pair). This is the generic
    * acoustic-fingerprint SHAPE with the FFT swapped for byte-value
    * banding (no codecs here); a real spectral frontend drops in at the
    * kernel with the same (bytes → Long) signature. Pairs via
    * [[graft.ext.DedupOps.hammingPairs]] — bucket equi-join, never
    * all-pairs. */
  val ByteBandHash = declare(Kernel("graft_byte_bandhash", "byteBandEnergyHash",
    Seq("bin" -> BinaryType), LongType, "audio-style band-energy fingerprint",
    Seq(int("frames", 2), int("bands", 2, 256)),
    Some(("bands divides 256 and (frames-1)*(bands-1) <= 62",
      ps => 256 % ps(1) == 0 && (ps(0) - 1) * (ps(1) - 1) <= 62))))

  /** Every declared kernel, in declaration order. */
  val all: Seq[Kernel] = declared.toSeq

  /** The one arity check of the SQL surface: names the function and its
    * signature. */
  def checkArity(signature: String, want: Int, got: Int): Unit =
    if (want != got) throw new IllegalArgumentException(
      s"$signature takes $want argument${if (want == 1) "" else "s"}, got $got")
}
