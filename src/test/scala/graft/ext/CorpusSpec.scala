package graft.ext

import graft.RegimeBound.withBound
import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("chunk covers every token; stride==size reconstructs the document") {
    val text = (1 to 150).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val exact = Corpus.chunk(df, "doc_id", "text", chunkSize = 64, stride = 64)
      .orderBy("chunk_idx").collect()
    assert(exact.map(_.getAs[String]("chunk")).mkString(" ") == text)
    assert(exact.map(_.getAs[Long]("n_tokens")).sum == 150)

    val overlapped = Corpus.chunk(df, "doc_id", "text", chunkSize = 64, stride = 48)
      .orderBy("chunk_idx").collect()
    // starts at 1, 49, 97, 145 -> 4 chunks; last has 150-145+1 = 6 tokens
    assert(overlapped.length == 4)
    assert(overlapped.map(_.getAs[Long]("chunk_idx")).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(overlapped.last.getAs[Long]("n_tokens") == 6)
    assert(overlapped.forall(r =>
      r.getAs[String]("chunk").split(" ").length == r.getAs[Long]("n_tokens")))
    // overlap region: chunk i tokens [1+48i, 64+48i] -- chunk 1 starts at t49
    assert(overlapped(1).getAs[String]("chunk").startsWith("t49 "))
  }

  test("short documents emit exactly one whole-document chunk") {
    val df = Seq((7L, "a b c")).toDF("doc_id", "text")
    val out = Corpus.chunk(df, "doc_id", "text", 64, 48).collect()
    assert(out.length == 1 && out.head.getAs[String]("chunk") == "a b c")
  }

  test("NULL-text documents still emit one (empty) chunk, never vanish") {
    val df = Seq((1L, Some("a b")), (2L, None)).toDF("doc_id", "text")
    val out = Corpus.chunk(df, "doc_id", "text", 64, 48)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("chunk")).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(2L) == "")
  }

  test("benchmarkOverlap: copied doc fully contaminated, fresh doc clean") {
    val bench = "b1 b2 b3 b4 b5 b6 b7 b8"
    val df = Seq(
      (50L, bench),                     // benchmark member (id % 50 == 0)
      (1L, bench),                      // full copy -> contamination 1.0
      (2L, "c1 c2 c3 c4 c5 c6 c7 c8"),  // disjoint -> 0.0
      (3L, "b1 b2 b3 x1 x2 x3"),        // 1 of 4 3-grams in benchmark
    ).toDF("doc_id", "text")
    val out = Corpus.benchmarkOverlap(df, "doc_id", "text",
      isBench = col("doc_id") % 50 === 0, n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("contamination")).toMap
    assert(!out.contains(50L))
    assert(out(1L) == 1.0)
    assert(out(2L) == 0.0)
    assert(out(3L) == 0.25)
  }

  test("prefixSum equals the single-partition windowed cumsum at any partitioning") {
    import org.apache.spark.sql.expressions.Window
    val rows = (1L to 300L).map(i => (i, i % 7 + 1))
    for (parts <- Seq(1, 4, 32)) {
      val df = rows.toDF("id", "v").repartition(parts)
      val got = Corpus.prefixSum(df, "id", "v", "cum")
        .orderBy("id").select("id", "cum")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = rows.toDF("id", "v")
        .withColumn("cum", sum(col("v")).over(Window.orderBy("id")))
        .orderBy("id").select("id", "cum")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == want, s"parts=$parts")
    }
  }

  test("prefixSum is exact on a key range wider than Long.MaxValue (no rebase overflow)") {
    import org.apache.spark.sql.expressions.Window
    // a 64-bit monotone hash image: span mx-mn overflows a signed long,
    // so any (k - min) rebase would overflow (ANSI throws) or collapse
    // the buckets — the shift-bucket spelling must stay exact
    val rows = Seq(
      (Long.MinValue + 1, 3L), (Long.MinValue / 2, 5L), (-7919L, 2L),
      (0L, 11L), (4242L, 1L), (Long.MaxValue / 2, 7L), (Long.MaxValue - 1, 4L))
    val df = rows.toDF("id", "v").repartition(4)
    val got = Corpus.prefixSum(df, "id", "v", "cum")
      .orderBy("id").select("id", "cum")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = rows.toDF("id", "v")
      .withColumn("cum", sum(col("v")).over(Window.orderBy("id")))
      .orderBy("id").select("id", "cum")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("prefixSum fails loud on a NULL sort key instead of mis-ranking it") {
    val df = Seq((Some(1L), 2L), (None, 3L), (Some(5L), 4L))
      .toDF("id", "v")
    val e = intercept[Exception] {
      Corpus.prefixSum(df, "id", "v", "cum").collect()
    }
    assert(e.getMessage.contains("NULL id"), e.getMessage)
  }

  test("curationPipeline filters low quality, keeps the lowest-id copy, chunks the rest") {
    // high-quality text: stopword-rich, long, no punctuation
    val good = (("the a an and of to in is it that " * 12).trim)
    val junk = "!!! ??? ;;; ### $$$ %%%"  // punct-heavy, short -> low quality
    val df = Seq(
      (1L, good), (2L, junk), (3L, good), // 3 duplicates 1; 2 is junk
    ).toDF("doc_id", "text")
    val out = Corpus.curationPipeline(df, "doc_id", "text",
      minQuality = 0.45, chunkSize = 64, stride = 48)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(out == Set(1L)) // junk filtered, duplicate removed, original kept
  }

  test("duplicateNgramStats: exact dup pair saturates, unique doc is zero") {
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    val df = Seq(
      (1L, shared), (2L, shared),
      (3L, (1 to 20).map(i => s"u$i").mkString(" ")),
    ).toDF("doc_id", "text")
    val out = Corpus.duplicateNgramStats(df, "doc_id", "text", n = 6)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("dup_frac")).toMap
    assert(out(1L) == 1.0 && out(2L) == 1.0)
    assert(out(3L) == 0.0)
  }

  test("boilerplateLines drops corpus-frequent lines and rebuilds in order") {
    val df = Seq(
      (1L, "a b x x c d"), // lines: "a b", "x x", "c d"
      (2L, "e f x x"),     // lines: "e f", "x x"  -> "x x" appears twice
      (3L, "g h"),         // unique line
    ).toDF("id", "text")
    val out = Corpus.boilerplateLines(df, "id", "text", lineTokens = 2, minCount = 2)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped"))).toSeq
    assert(out == Seq(
      (1L, "a b c d", 2L, 1L),
      (2L, "e f", 1L, 1L),
      (3L, "g h", 1L, 0L)))
  }

  test("boilerplateLines: fully-boilerplate docs keep an empty clean_text, never vanish") {
    val df = Seq((1L, "x x"), (2L, "x x"), (3L, "a b")).toDF("id", "text")
    val out = Corpus.boilerplateLines(df, "id", "text", lineTokens = 2, minCount = 2)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped"))).toSeq
    assert(out == Seq((1L, "", 0L, 1L), (2L, "", 0L, 1L), (3L, "a b", 1L, 0L)))
  }

  test("benchmark gram index: distributed regime (forced bound) is value-identical to collected") {
    val df = (1L to 60L).map { i =>
      if (i % 50 == 0) (i, "b1 b2 b3 b4 b5 b6")
      else (i, s"b1 b2 b3 u$i v$i w$i")
    }.toDF("doc_id", "text")
    val isBench = col("doc_id") % 50 === 0
    def run(tag: String) = {
      val idx = Corpus.benchmarkGramIndex(
        df, "doc_id", "text", isBench, n = 3, key = s"spec-bench-grams:$tag")
      Corpus.benchmarkOverlapIndexed(df, "doc_id", "text", isBench, n = 3, idx)
        .orderBy("doc_id").collect().map(_.toString).toSeq
    }
    val collected = run("collected")
    assert(graft.io.Regime.lastDecision.get("spec-bench-grams:collected") == "collected")
    val distributed = withBound(0)(run("distributed"))
    assert(graft.io.Regime.lastDecision.get("spec-bench-grams:distributed") == "distributed")
    assert(distributed == collected,
      "distributed-regime overlap drifted from the collected-regime values")
  }

  test("boilerplateLines: distributed rebuild (forced bound) is value-identical to row-local") {
    val df = (1L to 40L).map { i =>
      // every doc shares a planted boilerplate line; the rest is unique
      (i, s"plant line one two $i alpha$i beta$i gamma$i delta$i")
    }.toDF("id", "text")
    def run() = Corpus.boilerplateLines(df, "id", "text", lineTokens = 4, minCount = 10)
      .orderBy("id").collect().map(_.toString).toSeq
    val rowLocal = run()
    assert(rowLocal.nonEmpty && rowLocal.forall(!_.contains("plant line one two")))
    val distributed = withBound(0)(run())
    assert(distributed == rowLocal,
      "exploded-join rebuild drifted from the row-local filter")
  }

  test("scrubDupSpans removes only covered positions; exact copies scrub to empty") {
    val df = Seq(
      (1L, "p q r s t a b c"), // shares 5-gram "p q r s t" with doc 2
      (2L, "p q r s t d e f"), // -> first 5 tokens of both are covered
      (3L, "g h i j k l m n"), // all grams unique -> untouched
      (4L, "z z z"),           // shorter than n -> no grams, untouched
      (5L, "w1 w2 w3 w4 w5 w6"), // exact copy of 6...
      (6L, "w1 w2 w3 w4 w5 w6"), // ...both scrub to empty
    ).toDF("id", "text")
    val out = Corpus.scrubDupSpans(df, "id", "text", n = 5, minCount = 2)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("n_removed"))).toSeq
    assert(out == Seq(
      (1L, "a b c", 3L, 5L),
      (2L, "d e f", 3L, 5L),
      (3L, "g h i j k l m n", 8L, 0L),
      (4L, "z z z", 3L, 0L),
      (5L, "", 0L, 6L),
      (6L, "", 0L, 6L)))
  }

  test("scrubDupSpans: overlapping coverage unions, order preserved across gaps") {
    // docs 1/2 share the gram at positions 1..5 AND 4..8 (overlap): the
    // union covers 1..8, so only the tail survives — coverage is by
    // position, not by whole-gram removal (tokens inside two frequent
    // windows delete once)
    val df = Seq(
      (1L, "a b c d e f g h tail1 x"),
      (2L, "a b c d e f g h tail2 y"),
    ).toDF("id", "text")
    val out = Corpus.scrubDupSpans(df, "id", "text", n = 5, minCount = 2)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("n_removed"))).toSeq
    // grams starting at 1..4 are shared (both docs), positions 1..8
    // covered; grams containing tail1/tail2 differ per doc -> kept
    assert(out == Seq(
      (1L, "tail1 x", 2L, 8L),
      (2L, "tail2 y", 2L, 8L)))
  }

  test("scrubDupSpans: distributed rebuild (forced bound) is value-identical to row-local") {
    val df = (1L to 40L).map { i =>
      (i, s"plant gram one two five $i alpha$i beta$i gamma$i delta$i")
    }.toDF("id", "text")
    def run(tag: String) = Corpus.scrubDupSpans(df, "id", "text", n = 5,
        minCount = 10, cacheKey = Some(s"spec-dupspan:$tag"))
      .orderBy("id").collect().map(_.toString).toSeq
    val rowLocal = run("collected")
    assert(graft.io.Regime.lastDecision.get("spec-dupspan:collected") == "collected")
    assert(rowLocal.nonEmpty && rowLocal.forall(!_.contains("plant gram one two five")))
    val distributed = withBound(0)(run("distributed"))
    assert(graft.io.Regime.lastDecision.get("spec-dupspan:distributed") == "distributed")
    assert(distributed == rowLocal,
      "exploded-join span rebuild drifted from the row-local coverage filter")
  }
}
