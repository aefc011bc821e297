package graft.io

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** The artifact cache's contract: build-at-most-once per key, and —
  * the load-bearing property — a COLD build and a CACHED reuse are
  * value-identical for every query that amortizes a build through the
  * cache (x29 bloom bits, x22 benchmark grams, x21 df table, x16 IVF
  * centroids). If reuse could drift from rebuild, the bench would be
  * measuring a different query than Verify checks. */
class ArtifactCacheSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("getOrBuild builds once per key and returns the same instance") {
    ArtifactCache.clear()
    var builds = 0
    val key = "spec:build-once"
    val a = ArtifactCache.getOrBuild(key) { builds += 1; Vector(1, 2, 3) }
    val b = ArtifactCache.getOrBuild(key) { builds += 1; Vector(9, 9, 9) }
    assert(builds == 1 && (a eq b))
    ArtifactCache.clear()
    val c = ArtifactCache.getOrBuild(key) { builds += 1; Vector(4) }
    assert(builds == 2 && c == Vector(4))
    ArtifactCache.clear()
  }

  test("cold build and cached reuse produce identical results for every cache-backed query") {
    for (name <- Seq("x29_bloom_prefilter", "x22_contamination",
        "x21_tfidf_topk", "x16_ivf_topk")) {
      ArtifactCache.clear()
      val cold = SparkEntry.queries(name)(spark, sf).collect().map(_.toString)
      assert(ArtifactCache.size >= 1, s"$name no longer routes through the cache")
      val warm = SparkEntry.queries(name)(spark, sf).collect().map(_.toString)
      assert(cold.sameElements(warm), s"$name drifted between cold build and cached reuse")
    }
    ArtifactCache.clear()
  }

  test("getOrBuildFrame: one checkpoint build, value-identical serves, eviction frees blocks") {
    ArtifactCache.clear()
    import org.apache.spark.sql.functions._
    var builds = 0
    val key = "spec:frame"
    def build = { builds += 1
      spark.range(0, 1000).select(col("id"), (col("id") * 7).as("v")) }
    val sc = spark.sparkContext
    def cachedIds: Set[Int] =
      sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0).map(_.id).toSet
    val pre = cachedIds
    val a = ArtifactCache.getOrBuildFrame(key)(build)
    val rowsA = a.collect().map(_.toString).sorted
    // second call serves the SAME checkpoint — no rebuild
    val b = ArtifactCache.getOrBuildFrame(key)(build)
    assert(builds == 1, "frame artifact rebuilt on a warm serve")
    assert(b.collect().map(_.toString).sorted.sameElements(rowsA),
      "warm serve drifted from the built checkpoint")
    // the checkpoint is block-backed: after the first action its RDD
    // holds storage blocks; EVICTION must actually free them (the
    // Dataset.unpersist-only path strands localCheckpoint blocks — the
    // r17 reclamation lesson this API closes). Identified by diffing
    // cached-RDD ids, not names (checkpoint RDD names are not stable).
    val mine = cachedIds -- pre
    assert(mine.nonEmpty, "the checkpoint build left no storage blocks")
    ArtifactCache.retainOnly(_ != key)
    // release uses unpersist(blocking = false): poll briefly
    val deadline = System.nanoTime() + 5000000000L
    while (cachedIds.intersect(mine).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(cachedIds.intersect(mine).isEmpty,
      "eviction left localCheckpoint blocks stranded in the block manager")
    // post-eviction call rebuilds from scratch with the same values
    val c = ArtifactCache.getOrBuildFrame(key)(build)
    assert(builds == 2, "post-eviction serve did not rebuild")
    assert(c.collect().map(_.toString).sorted.sameElements(rowsA))
    ArtifactCache.clear()
  }

  test("an artifact built through spark.newSession() is served to spark, not rebuilt") {
    // one SparkContext per JVM: a sibling session's frames live in the
    // same context, so the liveness check on a hit must accept them
    ArtifactCache.clear()
    val sibling = spark.newSession()
    var builds = 0
    def ids(ss: org.apache.spark.sql.SparkSession) = {
      builds += 1; ss.range(0, 100).toDF("id")
    }
    val a = ArtifactCache.getOrBuildFrame("spec:sibling-frame")(ids(sibling))
    val b = ArtifactCache.getOrBuildFrame("spec:sibling-frame")(ids(spark))
    assert(builds == 1 && (b eq a), "a sibling session's checkpoint was rebuilt")
    assert(b.count() == 100)
    // the same through the regime path's persisted (over-bound) handle
    import spark.implicits._
    def served(ss: org.apache.spark.sql.SparkSession) =
      Regime.serve[Long](ss, "spec:sibling-regime", "id")(decode = _.getLong(0))(ids(ss))
    graft.RegimeBound.withBound(0) {
      val c = served(sibling)
      val d = served(spark)
      assert(builds == 2 && (d eq c), "a sibling session's regime artifact was rebuilt")
      assert(d.count() == 100)
    }
    ArtifactCache.clear()
  }

  test("getOrBuildFrame backs the x44/x42 projections: warm serve skips the corpus re-derive") {
    ArtifactCache.clear()
    val cold = SparkEntry.queries("x44_dup_span_scrub")(spark, sf)
      .collect().map(_.toString)
    assert(ArtifactCache.keys.exists(_.endsWith(":toks")),
      "x44 no longer caches its tokenize projection")
    val warm = SparkEntry.queries("x44_dup_span_scrub")(spark, sf)
      .collect().map(_.toString)
    assert(cold.sameElements(warm),
      "x44 drifted between cold projection build and checkpoint serve")
    ArtifactCache.clear()
  }
}
