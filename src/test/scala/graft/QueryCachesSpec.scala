package graft

import graft.core.QueryCaches
import graft.ext.DedupOps
import java.util.concurrent.CountDownLatch
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The checkpoint contract of [[graft.core.QueryCaches]]: registration
  * at creation (so a failing query leaks nothing past release()),
  * per-thread ownership, `drop`, and `iterate`'s round bookkeeping —
  * plus a source audit that keeps it the one place checkpoints are
  * made.
  */
class QueryCachesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private val boom = udf((x: Long) => {
    if (x >= 0) throw new IllegalStateException(s"planted failure at $x")
    x
  })

  test("dupClusters over a failing upstream leaves no persisted RDD after release()") {
    QueryCaches.release()
    val baseline = persistedIds
    val pairs = spark.range(0, 50).select(boom(col("id")).as("id_a"), (col("id") + 1).as("id_b"))
    intercept[Exception](DedupOps.dupClusters(pairs).collect())
    QueryCaches.release()
    val leaked = persistedIds -- baseline
    assert(leaked.isEmpty, s"persisted RDD ids leaked by the failed loop: $leaked")
  }

  test("iterate: a driver sync failing mid-loop leaves nothing registered after release()") {
    QueryCaches.release()
    val baseline = persistedIds
    var rounds = 0
    intercept[Exception] {
      QueryCaches.iterate(QueryCaches.checkpoint(spark.range(0, 20).toDF("n")), 8) { s =>
        s.select((col("n") + 1).as("n"))
      } { s =>
        rounds += 1
        rounds == 3 && s.agg(sum(boom(col("n")))).head().isNullAt(0)
      }
    }
    assert(rounds == 3)
    assert(QueryCaches.owned == 2, "the seed and the live round are registered at creation")
    QueryCaches.release()
    assert(QueryCaches.owned == 0)
    val leaked = persistedIds -- baseline
    assert(leaked.isEmpty, s"persisted RDD ids leaked by the failed loop: $leaked")
  }

  test("thread ownership: a checkpoint survives another thread's release(); its owner's release() frees it") {
    QueryCaches.release()
    val baseline = persistedIds
    val made = new CountDownLatch(1)
    val otherReleased = new CountDownLatch(1)
    @volatile var ck: org.apache.spark.sql.DataFrame = null
    @volatile var failure: Throwable = null
    val owner = new Thread(() =>
      try {
        ck = QueryCaches.checkpoint(spark.range(0, 100).toDF("id"))
        made.countDown()
        otherReleased.await()
        QueryCaches.release()
      } catch { case t: Throwable => failure = t; made.countDown() })
    owner.start()
    made.await()
    assert(failure == null, s"owner thread failed: $failure")
    val ids = persistedIds -- baseline
    assert(ids.size == 1, s"one checkpoint rdd expected, got $ids")
    QueryCaches.release() // this thread owns none of it
    assert(ids.subsetOf(persistedIds), "another thread's release() dropped a live checkpoint")
    assert(ck.count() == 100)
    otherReleased.countDown()
    owner.join()
    assert(failure == null, s"owner thread failed: $failure")
    assert((persistedIds -- baseline).isEmpty, "the owner's release() must free its checkpoint")
  }

  test("drop frees a checkpoint or tracked frame now and removes its registry entry") {
    QueryCaches.release()
    val baseline = persistedIds
    val ck = QueryCaches.checkpoint(spark.range(0, 10).toDF("id"))
    val t = QueryCaches.track(spark.range(0, 10).toDF("id").filter(col("id") > 2))
    assert(t.count() == 7)
    assert(QueryCaches.owned == 2)
    QueryCaches.drop(ck)
    QueryCaches.drop(t)
    assert(QueryCaches.owned == 0)
    assert(t.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert((persistedIds -- baseline).isEmpty)
  }

  test("iterate: superseded rounds are dropped and forgotten; the caller-owned seed is kept") {
    QueryCaches.release()
    val baseline = persistedIds
    val seed = QueryCaches.checkpoint(spark.range(0, 10).toDF("n"))
    def step(s: org.apache.spark.sql.DataFrame) = s.select((col("n") + 1).as("n"))
    def low(s: org.apache.spark.sql.DataFrame) = s.agg(min(col("n"))).head().getLong(0)
    var rounds = 0
    val last = QueryCaches.iterate(seed, 8)(step) { _ => rounds += 1; false }
    assert(rounds == 8 && low(last) == 8)
    // one registry entry and one persisted rdd each for the seed and the last round
    assert(QueryCaches.owned == 2)
    assert((persistedIds -- baseline).size == 2)
    assert(seed.count() == 10 && low(seed) == 0)
    val early = QueryCaches.iterate(seed, 8)(step)(low(_) >= 3)
    assert(low(early) == 3)
    assert(QueryCaches.iterate(seed, 0)(step)(_ => true) eq seed)
    QueryCaches.release()
    assert((persistedIds -- baseline).isEmpty)
  }

  /** `file:line: text` of every line under `roots` holding a string
    * `banned` returns for its file. */
  private def sourceHits(roots: String*)(banned: java.nio.file.Path => Seq[String]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val files = roots.flatMap { r =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(r)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
    }
    assert(files.nonEmpty)
    files.flatMap { f =>
      val b = banned(f)
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if b.exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
      }
    }
  }

  test("source audit: checkpoints are made only in QueryCaches, and the debug env knob is gone") {
    val home = java.nio.file.Paths.get("src/main/scala/graft/core/QueryCaches.scala")
    val hits = sourceHits("src/main/scala") { f =>
      Seq("GRAFT_CC_DEBUG") ++ (if (f == home) Nil else Seq("localCheckpoint(", "LogicalRDD"))
    }
    assert(hits.isEmpty, s"use QueryCaches.checkpoint/iterate instead:\n${hits.mkString("\n")}")
  }

  test("source audit: keyed streaming state is written only by GraftStream's keyed fold") {
    import scala.jdk.CollectionConverters._
    val home = java.nio.file.Paths.get("src/main/scala/graft/streaming/GraftStream.scala")
    val lines = java.nio.file.Files.readAllLines(home).asScala
    val start = lines.indexWhere(_.contains("def keyedFold[")) + 1
    val end = lines.indexWhere(_ == "  }", start) + 1 // the fold's closing brace
    assert(start > 0 && end > start)
    val api = Seq("flatMapGroupsWithState", "GroupStateTimeout")
    val hits = sourceHits("src/main/scala")(_ => api)
    val outside = hits.filterNot { h =>
      h.startsWith(s"$home:") && {
        val n = h.stripPrefix(s"$home:").takeWhile(_ != ':').toInt
        n >= start && n <= end
      }
    }
    assert(outside.isEmpty, s"write keyed state through GraftStream.keyedFold:\n${outside.mkString("\n")}")
    assert(hits.count(_.contains(api.head)) == 1, hits.mkString("\n"))
  }

  test("source audit: one session builder, one extension install, no session conf in queries, removed knobs gone") {
    // spelled in pieces so this file does not match itself
    val builder = "SparkSession" + ".builder"
    val extra = "experimental" + ".extra"
    val removed = Seq("spark.graft.mv" + ".rewrite", "SPARK_GRAFT_" + "SHUFFLE",
      "SPARK_GRAFT_" + "EXTRA", "SPARK_GRAFT_BENCH" + "_ONLY")
    def is(f: java.nio.file.Path, name: String) = f.getFileName.toString == name
    val hits = sourceHits("src/main/scala", "src/test/scala") { f =>
      removed ++
        (if (is(f, "Harness.scala")) Nil else Seq(builder)) ++
        (if (is(f, "GraftFunctions.scala")) Nil else Seq(extra)) ++
        (if (f.toString.contains("graft/queries/")) Seq("conf.set(", "conf.unset(") else Nil)
    }
    assert(hits.isEmpty, "build sessions with Harness.session, install graft with " +
      s"GraftExtensions.setup, and opt queries in on their own plan:\n${hits.mkString("\n")}")
  }

  test("source audit: native kernels are declared in the kernel table, not hand-written") {
    // spelled in pieces so this file does not match itself
    val codegen = "defineCode" + "Gen("
    val pretty = "prettyName: String = \"" + "graft_"
    val table = java.nio.file.Paths.get("src/main/scala/graft/functions/Kernels.scala")
    // the expressions the table does not declare, with their SQL names
    val handWritten = Map("CosineExpr" -> "graft_cosine", "DotExpr" -> "graft_dot",
      "ResizePixelsExpr" -> "graft_resize", "ExplodeShinglesExpr" -> "graft_explode_shingles",
      "ExplodeFramesExpr" -> "graft_explode_frames", "ExplodeBigramsExpr" -> "graft_explode_bigrams")
    val classDecl = """case class (\w+)""".r.unanchored
    val hits = sourceHits("src/main/scala")(f => if (f == table) Nil else Seq(codegen, pretty))
    val stray = hits.filterNot { h =>
      val Array(file, line) = h.split(":").take(2)
      val src = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(file))
      val owner = (line.toInt - 1 to 0 by -1).map(src.get).collectFirst { case classDecl(c) => c }
      owner.flatMap(handWritten.get).exists(name => !h.contains(pretty) || h.contains(s"$name\""))
    }
    assert(stray.isEmpty, s"declare native kernels in graft.functions.Kernels:\n${stray.mkString("\n")}")
  }

  test("source audit: partitions are numbered and prefix-scanned only in PrefixScan") {
    // spelled in pieces so this file does not match itself
    val banned = Seq("runJob" + "(", "mapPartitions" + "WithIndex", "zipWithIndex" + "()")
    val home = java.nio.file.Paths.get("src/main/scala/graft/core/PrefixScan.scala")
    val hits = sourceHits("src/main/scala")(f => if (f == home) Nil else banned)
    assert(hits.isEmpty, s"number rows or carry running values with graft.core.PrefixScan:\n${hits.mkString("\n")}")
  }

  test("source audit: each shared input relation of the query builders is spelled once") {
    // one defining line per folded relation; a second hit is a builder
    // re-spelling what a suite's private builder already names
    val defining = Seq(
      "select(col(\"event_type\").as(\"t\"), expr(\"ts div 86400000000000\").as(\"day\"))",
      ".select(col(\"user_id\"), col(\"event_id\"), expr(\"ts div 1000\").as(\"tus\"))",
      ".agg(sum(when(col(\"event_type\") === \"purchase\", cents).otherwise(0L)).as(\"m\"))",
      "expr(\"(min(d) + max(d)) div 2\")",
      "col(\"event_id\").as(\"p_event\"), col(\"tus\").as(\"p_tus\"))",
      "d.unionAll(d.select((col(\"doc_id\") + SHIFT).as(\"doc_id\"), firstTokenDropped.as(\"text\")))",
      "d.unionAll(d.select((col(\"doc_id\") + SHIFT).as(\"doc_id\"), col(\"text\")))",
      ".select((col(\"doc_id\") + 3 * SHIFT).as(\"doc_id\"), col(\"text\")))",
      ".groupBy(col(\"fp\")).agg(count(lit(1)).as(\"n_corpus\"))",
      "SkewOps.fanOut(corpus).select(col(\"doc_id\"), shingleFps(tokens(col(\"text\")), 3).as(\"fps\"))",
      "e.unionAll(e.select((col(\"vec_id\") + SHIFT).as(\"vec_id\"), col(\"embedding\")))",
      ".agg((sum(col(\"v\").cast(\"double\").cast(org.apache.spark.sql.types.DecimalType(38, 6)))",
      "HashExprs.cosineSim(col(vecCol), col(\"c_vec\")).as(\"cos\"))",
      ".select(col(\"c_id\").cast(\"int\").as(\"c_label\"), col(\"c_vec\"))",
      "wordRatio(tokens(col(\"text\")), Seq(\"the\", \"a\", \"data\", \"table\"))",
      "(col(\"ax\") - col(\"px\")) * (col(\"ax\") - col(\"px\"))",
      "expr(\"(1000 * sum(px)) div count(*)\")")
    for (line <- defining) {
      val hits = sourceHits("src/main/scala/graft/queries")(_ => Seq(line))
      assert(hits.size == 1, s"call the suite's builder for `$line`:\n${hits.mkString("\n")}")
    }
  }

  test("source audit: each query is declared once, with its oracle, and the log2-millis oracle fragment once") {
    // spelled in pieces so this file does not match itself
    val banned = Seq("val oracleSql" + ": Map", "def mbSql" + "(")
    val hits = sourceHits("src/main/scala/graft/queries")(_ => banned)
    assert(hits.isEmpty,
      s"declare queries as QueryDef entries, shared fragments in OracleFragments:\n${hits.mkString("\n")}")
  }
}
