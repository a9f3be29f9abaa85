package graft

import graft.ext.MultimodalOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal plumbing tests: schema convention, batch-shaped decode,
  * frame sampling, and the real byte-feature kernels — everything the
  * oracle can't see because the decode step is stubbed (no codecs in
  * this container; MultimodalOps.fakeDecode is the documented
  * deterministic stand-in).
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Synthetic media corpus: deterministic blobs + typed metadata. */
  private def corpus(n: Int) = {
    val rows = (0 until n).map { i =>
      val bytes = Array.tabulate[Byte](100 + i)(j => ((i * 31 + j * 7) % 256).toByte)
      Row(i.toLong, bytes, Row("video", "raw", 4, 3, 0, 10))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), MultimodalOps.mediaSchema)
  }

  test("decodeToPixels: batch-shaped decode yields w*h floats per blob, deterministic") {
    val out = MultimodalOps.decodeToPixels(corpus(10), batchSize = 4)
    val got = out.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(got.size == 10)
    assert(got.values.forall(_.length == 12)) // 4x3
    assert(got.values.forall(_.forall(p => p >= 0f && p < 1f)))
    // determinism: same corpus → bit-identical pixels
    val again = MultimodalOps.decodeToPixels(corpus(10), batchSize = 7)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(got == again)
  }

  test("resizeArea kernel: exact block means, ragged bounds, upsample degrades to nearest") {
    import graft.functions.HashKernels.resizeArea
    // 4x4 grid, 2x2 target: each output = mean of its 2x2 block
    val g = Array.tabulate(16)(_.toFloat) // rows [0..3],[4..7],[8..11],[12..15]
    assert(resizeArea(g, 4, 4, 2, 2).toSeq ==
      Seq((0f + 1 + 4 + 5) / 4, (2f + 3 + 6 + 7) / 4,
        (8f + 9 + 12 + 13) / 4, (10f + 11 + 14 + 15) / 4))
    // ragged 5x3 → 2x2: integer block bounds (rows [0,1)/[1,3), cols [0,2)/[2,5))
    val r = Array.tabulate(15)(_.toFloat)
    val out = resizeArea(r, 5, 3, 2, 2)
    assert(out(0) == (0f + 1) / 2 && out(1) == (2f + 3 + 4) / 3)
    assert(out(2) == (5f + 6 + 10 + 11) / 4 && out(3) == (7f + 8 + 9 + 12 + 13 + 14) / 6)
    // upsample 2x2 → 4x4: nearest-neighbor replication (clamped blocks)
    val up = resizeArea(Array(1f, 2f, 3f, 4f), 2, 2, 4, 4)
    assert(up.toSeq == Seq(1f, 1, 2, 2, 1, 1, 2, 2, 3, 3, 4, 4, 3, 3, 4, 4))
  }

  test("thumbnails: one-pass decode+resize equals decode-then-kernel; SQL graft_resize agrees") {
    import graft.functions.HashKernels.resizeArea
    val th = MultimodalOps.thumbnails(corpus(10), ow = 2, oh = 2, batchSize = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(th.size == 10 && th.values.forall(_.length == 4))
    // parity: thumb == resizeArea(fakeDecode(bytes, 4, 3))
    (0 until 10).foreach { i =>
      val bytes = Array.tabulate[Byte](100 + i)(j => ((i * 31 + j * 7) % 256).toByte)
      val expect = resizeArea(MultimodalOps.fakeDecode(bytes, 4, 3), 4, 3, 2, 2).toSeq
      assert(th(i.toLong) == expect, s"media $i")
    }
    // the native column expression computes the same resample from SQL
    val px = MultimodalOps.decodeToPixels(corpus(10))
    px.createOrReplaceTempView("resize_px")
    val viaSql = spark.sql(
      "SELECT media_id, graft_resize(pixels, 4, 3, 2, 2) AS thumb FROM resize_px")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(viaSql == th)
  }

  test("sampleFrames: index math + byte slicing partitions the blob") {
    assert(MultimodalOps.sampleFrameIndices(10, 3) == Seq(0, 3, 6, 9))
    assert(MultimodalOps.sampleFrameIndices(10, 4) == Seq(0, 4, 8, 9))
    assert(MultimodalOps.sampleFrameIndices(0, 3) == Seq.empty)
    val frames = MultimodalOps.sampleFrames(corpus(5), every = 3).collect()
    assert(frames.length == 5 * 4)
    // each sampled frame holds n_bytes/n_frames bytes (raw fixed-size frames)
    frames.foreach { r =>
      val id = r.getLong(0)
      val fb = r.getAs[Array[Byte]](2)
      assert(fb.length == (100 + id.toInt) / 10,
        s"media $id frame ${r.getInt(1)}: ${fb.length}")
    }
  }

  test("byteStats/byteHist agree with a Scala oracle on raw blobs") {
    val df = corpus(8).select(col("media_id"), col("content"))
    val stats = df.select(col("media_id"),
        MultimodalOps.byteStats(col("content")).as("s"),
        MultimodalOps.byteHist(col("content"), 16).as("h"))
      .collect()
    val expected = (0 until 8).map { i =>
      i.toLong -> Array.tabulate[Byte](100 + i)(j => ((i * 31 + j * 7) % 256).toByte)
    }.toMap
    stats.foreach { r =>
      val bs = expected(r.getLong(0)).map(_ & 0xff)
      val s = r.getStruct(1)
      assert(s.getLong(0) == bs.length)
      assert(s.getLong(1) == bs.map(_.toLong).sum)
      assert(s.getInt(2) == bs.min && s.getInt(3) == bs.max)
      val h = r.getSeq[Float](2)
      val counts = bs.groupBy(_ / 16).view.mapValues(_.length).toMap
      (0 until 16).foreach { b =>
        assert(h(b) == counts.getOrElse(b, 0).toFloat / bs.length)
      }
    }
  }

  test("byteSegGradHash: locality (an edit flips only adjacent-segment bits), determinism, edges") {
    import graft.functions.HashKernels.byteSegGradHash
    val rnd = new scala.util.Random(7)
    (0 until 50).foreach { _ =>
      val n = 64 + rnd.nextInt(900)
      val bs = Array.fill[Byte](n)(rnd.nextInt(256).toByte)
      val h0 = byteSegGradHash(bs, 32)
      // single-byte edit inside segment j can flip only gradient bits
      // j-1 and j (the two comparisons segment j participates in)
      val pos = rnd.nextInt(n)
      // the kernel's own boundary rule (NOT pos*32/n — the floored
      // boundaries make that inverse off by one near segment starts)
      val seg = (0 until 32).findLast(j => (j.toLong * n / 32).toInt <= pos).get
      val mutated = bs.clone(); mutated(pos) = (mutated(pos) ^ 0x55).toByte
      val flipped = h0 ^ byteSegGradHash(mutated, 32)
      val allowed = (if (seg > 0) 1L << (seg - 1) else 0L) | (if (seg < 31) 1L << seg else 0L)
      assert((flipped & ~allowed) == 0L,
        s"edit in segment $seg flipped bits outside ${java.lang.Long.toBinaryString(allowed)}: " +
          java.lang.Long.toBinaryString(flipped))
      // deterministic + kernel == expression path
      assert(h0 == byteSegGradHash(bs.clone(), 32))
    }
    // last-byte replacement (the mm_phash planted perturbation) can flip
    // only bit 30 — hamming <= 1 by construction
    (0 until 20).foreach { i =>
      val bs = Array.fill[Byte](100 + i * 13)(rnd.nextInt(256).toByte)
      val mutated = bs.clone(); mutated(bs.length - 1) = '~'.toByte
      val d = java.lang.Long.bitCount(byteSegGradHash(bs, 32) ^ byteSegGradHash(mutated, 32))
      assert(d <= 1, s"tail edit moved hamming $d > 1")
    }
    assert(byteSegGradHash(Array.emptyByteArray, 32) == 0L)
    assert(byteSegGradHash(Array[Byte](1), 32) == 0L) // 31 empty segments
    // short blob (n < segs): monotone increasing bytes -> low bits set
    // where segments are nonempty and increasing
    val inc = Array.tabulate[Byte](8)(j => (j * 10).toByte)
    assert(byteSegGradHash(inc, 32) >= 0L)
  }

  test("dupClusters: connected components map every member to the min-id representative") {
    import spark.implicits._
    // chain {1,2,3}, pair {5,6}, chain {7,8,9,10} (diameter 3 forces propagation)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L), (9L, 10L))
      .toDF("id_a", "id_b")
    val got = graft.ext.DedupOps.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 8L -> 7L, 9L -> 7L, 10L -> 7L), s"got $got")
  }

  test("capBuckets: hot LSH buckets are dropped before the self-join (skew guard)") {
    import spark.implicits._
    // 3 buckets: sizes 50 (hot), 3, 1 — cap at 10 keeps only the small ones
    val exploded = ((0 until 50).map(i => (0, 7L, i.toLong)) ++
      (50 until 53).map(i => (1, 8L, i.toLong)) ++ Seq((2, 9L, 53L)))
      .toDF("band", "sig", "doc_id")
    val kept = graft.ext.DedupOps.capBuckets(exploded, max = 10)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept == (50L until 54L), s"hot bucket must be dropped, got $kept")
  }

  test("blobs never shuffle: decode plan is map-side only (no Exchange)") {
    val plan = MultimodalOps.decodeToPixels(corpus(10))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"decode plan must not shuffle blobs:\n$plan")
  }

  test("mm_bin_scene_cuts: every planted mid-blob scene change is detected at boundary 4") {
    val got = SparkEntry.queries("mm_bin_scene_cuts")(spark, "/root/testdata/sf0.001").collect()
    val byDoc = got.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (id, rows) =>
      assert(rows.length == 7, s"doc $id: 8 frames -> 7 boundaries")
      val cut4 = rows.find(_.getAs[Long]("boundary") == 4L).get
      assert(cut4.getAs[Boolean]("is_cut"),
        s"doc $id: the constant->textured splice at mid-blob must cut: $cut4")
    }
  }
}
