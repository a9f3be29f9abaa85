package graft

import graft.functions.{HashExprs, HashKernels, Kernels}
import graft.sql.GraftFunctions
import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** SQL-surface registration: every native kernel callable from pure
  * SQL, matching the DSL/kernel results exactly, plus the
  * SparkSessionExtensions injection path.
  */
class SqlFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("registered SQL functions compute the kernel results") {
    val r = spark.sql(
      """SELECT graft_fingerprint('spark native engine') AS fp,
        |  graft_minhash_sig(graft_shingle_fps(array('a','b','c','d'), 3), 8) AS mh,
        |  graft_band_keys(graft_minhash_sig(graft_token_fps(array('x','y')), 8), 4, 2) AS bk,
        |  graft_simhash(graft_token_fps(array('x','y','z')), 16) AS sh,
        |  graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |               array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos,
        |  graft_byte_stats(encode('abc', 'UTF-8')).sum_bytes AS sb,
        |  graft_byte_hist(encode('abc', 'UTF-8'), 16)[6] AS h6,
        |  graft_srp_bucket(array(CAST(0.5 AS FLOAT), CAST(-0.5 AS FLOAT)), 4) AS srp,
        |  graft_byte_phash(encode('abcdef', 'UTF-8'), 4) AS ph,
        |  graft_zorder(CAST(5 AS BIGINT), CAST(3 AS BIGINT), 16) AS z,
        |  graft_dot(array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)),
        |            array(CAST(4.0 AS FLOAT), CAST(5.0 AS FLOAT))) AS dp
        |""".stripMargin).head()
    assert(r.getLong(0) == HashKernels.fingerprint(UTF8String.fromString("spark native engine")))
    assert(r.getSeq[Long](1).length == 8)
    assert(r.getSeq[Long](2).length == 4)
    assert(r.getLong(3) >= 0)
    assert(r.getDouble(4) == 1.0)
    assert(r.getLong(5) == 'a'.toInt + 'b'.toInt + 'c'.toInt)
    assert(r.getFloat(6) == 1.0f) // 'a'(97),'b'(98),'c'(99) all in bin 6
    assert(r.getLong(7) >= 0 && r.getLong(7) < 16)
    // segs=4 over 'abcdef': segments [a],[bc],[d],[ef] — all three
    // adjacent mean-gradients ascend, so the hash is 0b111
    assert(r.getLong(8) == 7L)
    // z(5=101b, 3=011b): a-bits at even positions (1,0,1 → 1+16),
    // b-bits at odd positions (1,1,0 → 2+8) = 27
    assert(r.getLong(9) == 27L)
    assert(r.getDouble(10) == 23.0) // 2*4 + 3*5
  }

  test("graft_modal_ngram_count + graft_byte_hist_counts from SQL") {
    val r = spark.sql(
      """SELECT graft_modal_ngram_count(array('a','b','a','b','a','c'), 2) AS m2,
        |  graft_modal_ngram_count(array('x'), 2) AS short,
        |  graft_byte_hist_counts(encode('abc', 'UTF-8'), 16) AS hc
        |""".stripMargin).head()
    // bigrams: ab, ba, ab, ba, ac → mode 'a b' (and 'b a') occurs 2×
    assert(r.getLong(0) == 2L)
    assert(r.getLong(1) == 0L) // fewer tokens than the gram width
    val hc = r.getSeq[Long](2)
    assert(hc.length == 16 && hc(6) == 3L && hc.sum == 3L) // 97..99 all in bin 6
  }

  test("graft_byte_laplacian: second-difference energy, short-blob zero") {
    val r = spark.sql(
      """SELECT graft_byte_laplacian(encode('aca', 'UTF-8')) AS tent,
        |  graft_byte_laplacian(encode('abc', 'UTF-8')) AS ramp,
        |  graft_byte_laplacian(encode('aa', 'UTF-8')) AS short,
        |  graft_byte_laplacian(encode('', 'UTF-8')) AS empty
        |""".stripMargin).head()
    assert(r.getLong(0) == 4L) // |97 - 2*99 + 97| = 4: the tent peak
    assert(r.getLong(1) == 0L) // linear ramp: zero second difference
    assert(r.getLong(2) == 0L) // no interior byte
    assert(r.getLong(3) == 0L)
  }

  test("graft_byte_runs: run profile, constant blob, empty blob") {
    val r = spark.sql(
      """SELECT graft_byte_runs(encode('aabbbbbbbbc', 'UTF-8')) AS mix,
        |  graft_byte_runs(encode('zzzz', 'UTF-8')) AS const,
        |  graft_byte_runs(encode('', 'UTF-8')) AS empty
        |""".stripMargin).head()
    val mix = r.getStruct(0)
    assert(mix.getLong(0) == 3L && mix.getLong(1) == 8L && mix.getLong(2) == 8L)
    val const = r.getStruct(1)
    assert(const.getLong(0) == 1L && const.getLong(1) == 4L && const.getLong(2) == 0L)
    val empty = r.getStruct(2)
    assert(empty.getLong(0) == 0L && empty.getLong(1) == 0L && empty.getLong(2) == 0L)
  }

  test("graft_log2_millis: equals the length(bin)-1 SQL spelling across binades; edges") {
    // exhaustive small range + binade edges + large values: the kernel
    // must equal the oracle-side integer spelling everywhere.
    val probes = (1L to 1030L) ++ Seq(1048575L, 1048576L, 1048577L,
      (1L << 40) - 1, 1L << 40, (1L << 40) + 12345L, (1L << 52) + 999L)
    import spark.implicits._
    val df = probes.toDF("q")
    val bad = df.selectExpr(
        "q", "graft_log2_millis(q) AS got",
        "CAST((length(bin(q)) - 1) * 1000 AS BIGINT) + " +
          "((q - shiftleft(CAST(1 AS BIGINT), length(bin(q)) - 1)) * 1000) div " +
          "shiftleft(CAST(1 AS BIGINT), length(bin(q)) - 1) AS want")
      .filter("got <> want").collect()
    assert(bad.isEmpty, bad.mkString(", "))
    // hand-pins: exact powers land on b·1000; q<=0 is the sentinel
    assert(HashKernels.log2Millis(1L) == 0L)
    assert(HashKernels.log2Millis(1024L) == 10000L)
    assert(HashKernels.log2Millis(1536L) == 10500L) // 1.5·2^10 → half a bit linear
    assert(HashKernels.log2Millis(0L) == Long.MinValue)
    assert(HashKernels.log2Millis(-7L) == Long.MinValue)
  }

  test("graft_char_entropy_bound: hand-computed bounds, edges, codegen == kernel") {
    val r = spark.sql(
      """SELECT graft_char_entropy_bound('aaaa') AS uniform,
        |  graft_char_entropy_bound('abcd') AS spread,
        |  graft_char_entropy_bound('aab') AS mixed,
        |  graft_char_entropy_bound('') AS empty,
        |  graft_char_entropy_bound('𐀀𐀀x') AS supp
        |""".stripMargin).head()
    // 'aaaa': n=4, 1 distinct, 4·⌊log2(4/4)⌋ = 0 bits — the repetition wall
    assert(r.getSeq[Long](0) == Seq(4L, 1L, 0L))
    // 'abcd': every k=1 → 4·⌊log2 4⌋ = 8 bits (exactly 2 bits/char)
    assert(r.getSeq[Long](1) == Seq(4L, 4L, 8L))
    // 'aab': a contributes 2·⌊log2(3 div 2)⌋=0, b contributes ⌊log2 3⌋=1
    assert(r.getSeq[Long](2) == Seq(3L, 2L, 1L))
    assert(r.getSeq[Long](3) == Seq(0L, 0L, 0L))
    // U+10000 counts as ONE codepoint (not two UTF-16 units)
    assert(r.getSeq[Long](4) == Seq(3L, 2L, 1L))
    // codegen path (the SQL above) == interpreted kernel
    val k = HashKernels.charEntropyBound(UTF8String.fromString("aab"))
    assert(k.toLongArray().toSeq == Seq(3L, 2L, 1L))
  }

  test("graft_varint_cost: hand-computed byte costs, edges, clustering wins, codegen == kernel") {
    val r = spark.sql(
      """SELECT graft_varint_cost(array(CAST(0 AS BIGINT))) AS zero,
        |  graft_varint_cost(array(CAST(5 AS BIGINT), 6, 7, 8)) AS seq,
        |  graft_varint_cost(array(CAST(100 AS BIGINT), 36)) AS neg,
        |  graft_varint_cost(array(CAST(64 AS BIGINT))) AS twob,
        |  graft_varint_cost(CAST(array() AS ARRAY<BIGINT>)) AS empty
        |""".stripMargin).head()
    // zigzag(0)=0 → 1 byte even for the zero value
    assert(r.getSeq[Long](0) == Seq(1L, 8L, 1L))
    // 5,+1,+1,+1: zigzag(5)=10 (1B), each +1 → zigzag 2 (1B) — the
    // clustered-layout shape: one byte per element
    assert(r.getSeq[Long](1) == Seq(4L, 32L, 4L))
    // negative delta −64: zigzag = 127 → still 1 byte; first 100 → 200 → 2 bytes
    assert(r.getSeq[Long](2) == Seq(2L, 16L, 3L))
    // zigzag(64)=128 needs an 8th bit → 2 bytes (the 7-bit group boundary)
    assert(r.getSeq[Long](3) == Seq(1L, 8L, 2L))
    assert(r.getSeq[Long](4) == Seq(0L, 0L, 0L))
    // reference fold (loop-free spelling of the LEB128 rule) == kernel
    // on an adversarial series: sign flips, group boundaries, 2^61 scale
    def refBytes(vs: Seq[Long]): Long = {
      var prev = 0L
      vs.zipWithIndex.map { case (v, i) =>
        val d = if (i == 0) v else v - prev
        prev = v
        val u = (d << 1) ^ (d >> 63)
        var n = 1L; var x = u >>> 7
        while (x != 0) { n += 1; x >>>= 7 }
        n
      }.sum
    }
    val rng = new scala.util.Random(42)
    val series = Seq.fill(500)(rng.nextLong() >> 3) // |v| < 2^61: contract range
    val got = org.apache.spark.sql.catalyst.util.ArrayData
      .toArrayData(series.toArray)
    val k = HashKernels.varintCost(got).toLongArray()
    assert(k.toSeq == Seq(500L, 4000L, refBytes(series)))
    // the advisor's premise: a sorted series costs strictly less than
    // the same multiset scattered
    val sorted = series.sorted
    assert(HashKernels.varintCost(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(sorted.toArray))
      .toLongArray()(2) < k(2))
  }

  test("graft_cdc_chunks: shift resistance, edges, codegen == kernel") {
    // deterministic APERIODIC pseudo-text via a 64-bit LCG (a linear
    // i·c generator repeats a handful of windows and can miss the cut
    // residue entirely — measured: 208 distinct windows in 5000 chars,
    // zero cuts); the LCG stream yields the expected ~1/64 cut rate
    def mk(n: Int, seed: Int): String = {
      var x = seed.toLong * 0x9E3779B97F4A7C15L
      val sb = new StringBuilder(n)
      var i = 0
      while (i < n) {
        x = x * 6364136223846793005L + 1442695040888963407L
        sb.append(('a' + ((x >>> 33) % 26).toInt).toChar)
        i += 1
      }
      sb.toString
    }
    val base = mk(2000, 1)
    def chunks(s: String): Seq[Long] =
      HashKernels.cdcChunkFps(UTF8String.fromString(s), 8, 64L).toLongArray().toSeq
    val a = chunks(base)
    assert(a.length > 5, s"expected many ~64-cp chunks, got ${a.length}")
    assert(chunks(base) == a, "kernel must be deterministic")
    // APPEND locality: extending the tail leaves every closed chunk cut
    // where it was — only the open last chunk may change/split
    val ap = chunks(base + mk(200, 2))
    assert(ap.take(a.length - 1) == a.take(a.length - 1),
      "append must not move earlier cuts")
    // PREPEND locality — the property fixed-size blocks lack: an
    // insertion re-synchronizes within one window, so the chunk stream
    // shares a long common SUFFIX
    val pp = chunks(mk(100, 3) + base)
    val commonSuffix = a.reverse.zip(pp.reverse).takeWhile(t => t._1 == t._2).length
    assert(commonSuffix >= a.length - 3,
      s"prepend must re-sync: only ${a.length - commonSuffix} of ${a.length} chunks survived")
    // edges: empty → no chunks; shorter than the window → one chunk
    // whose fp is the plain content fingerprint
    assert(chunks("") == Seq.empty)
    assert(chunks("abc") ==
      Seq(HashKernels.fingerprint(UTF8String.fromString("abc"))))
    // whole-string fold invariant: chained chunk folds recompose to the
    // full-document fingerprint (fold associativity with carry)
    // — not asserted directly (folds reset per chunk); instead pin the
    // SQL/codegen path against the interpreted kernel
    val viaSql = spark.sql(
      s"SELECT graft_cdc_chunks('${base.take(500)}', 8, 64) AS c")
      .head().getSeq[Long](0).toSeq
    assert(viaSql == chunks(base.take(500)), "codegen path must equal kernel")
  }

  // ---- the kernel table: one declaration, three derived paths --------

  /** Fixed inputs for every declared input type: a typical row, an
    * all-null row, an all-empty row and a non-ASCII row. Each array pair
    * has equal lengths per row (graft_dtw's contract). */
  private lazy val kernelFixture = {
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("s1", StringType), StructField("s2", StringType),
      StructField("toks", ArrayType(StringType)),
      StructField("l1", ArrayType(LongType)), StructField("l2", ArrayType(LongType)),
      StructField("f1", ArrayType(FloatType)), StructField("b1", BinaryType),
      StructField("q1", LongType), StructField("q2", LongType)))
    val rows = Seq(
      Row(1, "spark native engine", "spark native engin", Seq("a", "b", "a", "b", "c"),
        Seq(5L, 3L, 9L, 1L), Seq(4L, 4L, 8L, 2L), Seq(0.5f, -0.25f, 1.0f),
        "abcabcxyzzzzzzzzzq".getBytes("UTF-8"), 1536L, 77L),
      Row(2, null, null, null, null, null, null, null, null, null),
      Row(3, "", "", Seq.empty[String], Seq.empty[Long], Seq.empty[Long], Seq.empty[Float],
        Array.emptyByteArray, 0L, 0L),
      Row(4, "héllo🎉 wörld", "hello world", Seq("x"), Seq(7L), Seq(1L), Seq(0.1f),
        Array.tabulate(300)(i => (i * 37 % 256).toByte), 1L << 40, 12345L))
    // an RDD relation, so projections are generated code, not folded locally
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }
  private lazy val fixtureColumns: Map[DataType, Seq[String]] = Map(
    StringType -> Seq("s1", "s2"), ArrayType(StringType) -> Seq("toks"),
    ArrayType(LongType) -> Seq("l1", "l2"), ArrayType(FloatType) -> Seq("f1"),
    BinaryType -> Seq("b1"), LongType -> Seq("q1", "q2"))

  test("every declared kernel: SQL == Column and generated == interpreted, on nulls and empty arrays") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection}
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateUnsafeProjection}
    val fx = kernelFixture
    fx.createOrReplaceTempView("kernel_fixture")
    val input = fx.queryExecution.toRdd.map(_.copy()).collect()
    assert(Kernels.all.size == 26)
    assert(Kernels.all.map(_.name).distinct.size == Kernels.all.size)
    Kernels.all.foreach { k =>
      val cols = k.inputs.map(_._2).zipWithIndex.map { case (t, i) =>
        val have = fixtureColumns.getOrElse(t, fail(s"${k.name}: no fixture column of type $t"))
        have(i % have.size)
      }
      val ps = k.params.map(p => math.min(math.max(4L, p.lo), p.hi))
      val viaSql = spark.sql(s"SELECT ${k.name}(${(cols ++ ps).mkString(", ")}) AS v " +
        "FROM kernel_fixture ORDER BY id").collect().toSeq
      val viaColumn = fx.orderBy("id").select(k(cols.map(col): _*)(ps: _*).as("v"))
        .collect().toSeq
      assert(viaSql == viaColumn, k.name)
      assert(viaSql.count(_.isNullAt(0)) == 1, s"${k.name}: only the null row is null")
      val e = k.expr(cols.map(c => BoundReference(fx.schema.fieldIndex(c),
        fx.schema(c).dataType, nullable = true)), ps)
      val code = e.genCode(new CodegenContext).code.toString
      assert(code.contains(s"graft.functions.HashKernels.${k.method}("), s"${k.name}:\n$code")
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      val interpreted = InterpretedUnsafeProjection.createProjection(Seq(e))
      input.foreach(r => assert(generated(r).copy() == interpreted(r).copy(), s"${k.name} on $r"))
    }
  }

  test("SQL arity is checked: a wrong argument count names the function and its signature") {
    def err(q: String) = intercept[IllegalArgumentException](spark.sql(q)).getMessage
    assert(err("SELECT graft_minhash_sig(array(CAST(1 AS BIGINT)))")
      .contains("graft_minhash_sig(fps, n) takes 2 arguments, got 1"))
    assert(err("SELECT graft_fingerprint('a', 'b')")
      .contains("graft_fingerprint(str) takes 1 argument, got 2"))
    assert(err("SELECT graft_cosine(array(CAST(1.0 AS FLOAT)))")
      .contains("graft_cosine(a, b) takes 2 arguments, got 1"))
  }

  test("kernel parameters are checked at plan time, naming the function, the parameter and the value") {
    def err(q: String) = intercept[IllegalArgumentException](spark.sql(q)).getMessage
    val fps = "array(CAST(1 AS BIGINT), 2)"
    assert(err("SELECT graft_shingle_fps(array('a'), 0)").contains("graft_shingle_fps(tokens, k): k = 0"))
    assert(err(s"SELECT graft_band_keys($fps, -1, 2)").contains("graft_band_keys(sig, b, r): b = -1"))
    assert(err(s"SELECT graft_minhash_sig($fps, 65)").contains("graft_minhash_sig(fps, n): n = 65"))
    val vec = "array(CAST(0.5 AS FLOAT))"
    assert(err(s"SELECT graft_srp_bucket($vec, 70)").contains("graft_srp_bucket(vec, bits): bits = 70"))
    assert(err("SELECT graft_byte_hist(encode('a', 'UTF-8'), 3)").contains("bins = 3 breaks"))
    assert(err("SELECT graft_shingle_fps(array('a'), id) FROM range(1)")
      .contains("k must be an integer literal"))
    // the Column functions run the same check when they are called
    val e = intercept[IllegalArgumentException](HashExprs.srpBucket(col("v"), 70))
    assert(e.getMessage.contains("bits = 70"))
    // bits = 63 is the widest bucket id that stays a positive long
    val top = spark.sql(s"SELECT graft_srp_bucket($vec, 63)").head().getLong(0)
    assert(top >= 0L)
  }

  test("kernel input types are declared: a wrong-typed input fails analysis with DATATYPE_MISMATCH") {
    val ints = spark.range(1, 1031).selectExpr("CAST(id AS INT) AS i")
    def mismatch(e: String): String = {
      val ex = intercept[AnalysisException](ints.selectExpr(e))
      assert(ex.getCondition.startsWith("DATATYPE_MISMATCH"), ex.getMessage)
      ex.getMessage
    }
    assert(mismatch("graft_fingerprint(i)").contains("graft_fingerprint(i)"))
    assert(mismatch("graft_token_fps(array(i))").contains("graft_token_fps(array(i))"))
    // narrower integral columns still widen into BIGINT inputs
    val w = ints.selectExpr("graft_log2_millis(i) AS a", "graft_log2_millis(CAST(i AS BIGINT)) AS b",
      "graft_zorder(i, i + 7, 16) AS z", "graft_zorder(CAST(i AS BIGINT), CAST(i + 7 AS BIGINT), 16) AS y")
    assert(w.schema("a").dataType == LongType && w.schema("z").dataType == LongType)
    assert(w.filter("a <> b OR z <> y").count() == 0L)
    assert(spark.sql("SELECT graft_log2_millis(1024)").head().getLong(0) == 10000L)
  }

  test("one name per kernel: graft_byte_phash prints under its name; graft_char_shingle_fps is SQL-callable") {
    val blobs = spark.range(3).selectExpr("encode(CAST(id * 1234567 AS STRING), 'UTF-8') AS b")
    val ph = blobs.select(graft.ext.MultimodalOps.byteSegGradHash(col("b"), 4))
    assert(ph.columns.toSeq == Seq("graft_byte_phash(b)"))
    assert(ph.queryExecution.executedPlan.toString.contains("graft_byte_phash(b"))
    val viaSql = spark.sql("SELECT graft_char_shingle_fps('abcde', 2) AS v").head().getSeq[Long](0)
    val viaColumn = spark.range(1).select(HashExprs.charShingleFps(org.apache.spark.sql.functions
      .lit("abcde"), 2)).head().getSeq[Long](0)
    assert(viaSql == viaColumn && viaSql.size == 4)
  }

  test("bloom pair from SQL: scalar-subquery build + probe filters like the exact semi-join") {
    import spark.implicits._
    Seq(1L, 5L, 9L, 400L).toDF("k").createOrReplaceTempView("bloom_small")
    spark.range(0, 500).toDF("id").createOrReplaceTempView("bloom_big")
    val kept = spark.sql(
      """SELECT id FROM bloom_big WHERE graft_might_contain(
        |  (SELECT graft_bloom_agg(xxhash64(k), 100, 4000) FROM bloom_small),
        |  xxhash64(id))""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert(Set(1L, 5L, 9L, 400L).subsetOf(kept), s"false negative: $kept")
    assert(kept.size < 100, s"probe pruned nothing: ${kept.size} of 500 kept")
  }

  test("SQL path equals DSL path on real data (dedup fingerprints)") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/documents.parquet").createOrReplaceTempView("docs_v")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_fingerprint(text) AS fp FROM docs_v ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaDsl = queries.TextQueries.textFingerprint(spark, sf)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql == viaDsl)
  }

  test("fingerprint folds unicode CODEPOINTS (not UTF-16 units) — matches DuckDB unicode()") {
    // 'é' = U+00E9, '🎉' = U+1F389 (a surrogate pair in UTF-16: a
    // char-wise fold would see two units and diverge from DuckDB).
    val expected = "héllo🎉".codePoints().toArray
      .foldLeft(0L)((h, cp) => (h * 31 + cp) % 1000000007L)
    assert(HashKernels.fingerprint(UTF8String.fromString("héllo🎉")) == expected)
  }

  test("SparkSessionExtensions injection applies cleanly (builder-config path)") {
    // A shared test JVM can't build a second independent session
    // (getOrCreate returns the active one, ignoring the extensions
    // conf), so assert the injection itself: every builder registers
    // into a fresh SparkSessionExtensions without error.
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.sql.GraftExtensions().apply(ext)
    // pinned count catches an accidentally dropped builder; distinct
    // catches a duplicated name
    assert(GraftFunctions.builders.size == 34)
    assert(GraftFunctions.builders.map(_._1).distinct.size == 34)
  }

  test("the shared session is built with the extension: functions resolve without any registration") {
    val fp = spark.sql("SELECT graft_fingerprint('a') AS fp").head().getLong(0)
    assert(fp == HashKernels.fingerprint(UTF8String.fromString("a")))
  }

  test("GraftExtensions.setup is idempotent: twice on the shared session leaves one AsOfJoinStrategy") {
    def strategies = spark.sessionState.planner.strategies
    graft.sql.GraftExtensions.setup(spark)
    graft.sql.GraftExtensions.setup(spark)
    assert(strategies.count(_ == graft.plans.AsOfJoinStrategy) == 1, strategies)
  }

  test("graft_explode_bigrams: streams token pairs, drops empties, equals the composed spelling") {
    import spark.implicits._
    val docs = Seq((1L, "a b  c"), (2L, "solo"), (3L, ""), (4L, "x y"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("graft_bigram_docs")
    val got = spark.sql(
      """SELECT doc_id, b.pos, b.w1, b.w2 FROM graft_bigram_docs
        |LATERAL VIEW graft_explode_bigrams(text) b AS pos, w1, w2""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
      .sortBy(r => (r._1, r._2)).toSeq
    // the double space in doc 1 is dropped (tokens() contract), so the
    // pairs are (a,b), (b,c); 1-token and empty docs emit nothing
    assert(got == Seq((1L, 0, "a", "b"), (1L, 1, "b", "c"), (4L, 0, "x", "y")), got)
    // equals the composed transform(sequence(...)) spelling on real data
    val t = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val composed = t.selectExpr("doc_id",
        "filter(split(text, ' '), x -> x <> '') AS tk")
      .selectExpr("doc_id", """explode(CASE WHEN size(tk) >= 2
        THEN transform(sequence(0, size(tk) - 2), i -> struct(tk[i] AS w1, tk[i + 1] AS w2))
        ELSE array() END) AS b""")
      .selectExpr("doc_id", "b.w1", "b.w2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    val gen = t.select(t("doc_id"),
        graft.functions.HashExprs.explodeBigrams(t("text")))
      .selectExpr("doc_id", "w1", "w2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(gen == composed)
  }

  test("graft_explode_shingles: a true Generator — 1→N from SQL with child positions") {
    import spark.implicits._
    Seq((1L, "a b c d"), (2L, "x y"), (3L, null.asInstanceOf[String]))
      .toDF("id", "t").createOrReplaceTempView("gen_docs")
    val rows = spark.sql(
      """SELECT id, s.pos, s.shingle FROM gen_docs
        |LATERAL VIEW graft_explode_shingles(t, 3) s AS pos, shingle""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
    // 1 → two 3-shingles with positions 0,1; 2 is too short; 3 is null
    assert(rows == Seq((1L, 0, "a b c"), (1L, 1, "b c d")))
    // resolves into a Generate node (the flat_map planner shape), and
    // the expansion is scan-side: no exchange anywhere in the plan
    val plan = spark.sql(
      """SELECT id, s.pos FROM gen_docs
        |LATERAL VIEW graft_explode_shingles(t, 3) s AS pos, shingle""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), plan)
    assert(!plan.contains("Exchange"), s"1→N expansion must not shuffle:\n$plan")
  }

  test("graft_explode_frames: binary UDTF slices the blob in-partition") {
    import spark.implicits._
    Seq((1L, "abcdefgh"), (2L, "ab")).toDF("id", "t")
      .selectExpr("id", "encode(t, 'UTF-8') AS bin")
      .createOrReplaceTempView("gen_media")
    val rows = spark.sql(
      """SELECT id, f.frame_idx, decode(f.frame_bytes, 'UTF-8') AS fb FROM gen_media
        |LATERAL VIEW graft_explode_frames(bin, 4) f AS frame_idx, frame_bytes""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
    // 8 bytes / 4 frames → "ab","cd","ef","gh"; 2 bytes → sz=1: "a","b","",""
    assert(rows == Seq((1L, 0, "ab"), (1L, 1, "cd"), (1L, 2, "ef"), (1L, 3, "gh"),
      (2L, 0, "a"), (2L, 1, "b"), (2L, 2, ""), (2L, 3, "")))
    val plan = spark.sql(
      """SELECT id, f.frame_idx FROM gen_media
        |LATERAL VIEW graft_explode_frames(bin, 4) f AS frame_idx, frame_bytes""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), plan)
    assert(!plan.contains("Exchange"), s"frame expansion must not shuffle:\n$plan")
  }

  test("CMS token sketch: one-sided estimates bounded by eps·N for the exact top tokens") {
    // The heavy-hitter sketch beside the exact wordcount: CMS never
    // undercounts, and with width ⌈e/eps⌉ overcounts by at most eps·N
    // (w.p. confidence; deterministic here — fixed seed). Checked for
    // the exact top-10 tokens of the real corpus.
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val exact = docs.select(explode(graft.ext.TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val total = docs.select(sum(size(graft.ext.TextOps.tokens(col("text")))))
      .head().getLong(0)
    val eps = 0.0001
    val sk = graft.ext.TextOps.tokenFreqSketch(docs, eps)
    exact.foreach { case (tok, cnt) =>
      val est = sk.estimateCount(tok)
      assert(est >= cnt, s"CMS undercounted '$tok': $est < $cnt")
      assert(est <= cnt + (eps * total).ceil.toLong,
        s"CMS overcount for '$tok' beyond eps*N: $est vs $cnt + ${(eps * total).ceil}")
    }
  }
}
