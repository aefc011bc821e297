package graft.ext

import graft.SparkTestSession
import graft.io.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall/semantics checks for the dedup operators. The oracle queries
  * (x5-x8) prove Spark ≡ DuckDB; these prove the algorithms actually
  * FIND what they claim to find. */
class DedupSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // corpus with planted near-duplicates: every 10th doc copied with a
  // 3-token suffix appended (id + 10000)
  private def corpus = {
    val docs = Tables.documents(spark, sf).select(col("doc_id").as("id"), col("text"))
    docs.unionByName(
      Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000).as("id"),
          concat(col("text"), lit(" zz yy xx")).as("text")))
  }

  private def plantedIds =
    Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("native MinhashSigSet expression matches the explode+groupBy path exactly") {
    // the expression is the hot path (x6/x7); the exploded shingle-md5
    // frame is the independently-spelled reference — signatures AND the
    // distinct 60-bit shingle sets must agree doc-for-doc
    val sigNative = Dedup.minhashWithSets(corpus, "id", "text", 3, 12).cache()
    val m = Dedup.shingleMd5(corpus, "id", "text", 3)
    val sigRef = Dedup.minhashSignatureFromMd5(m, 12)
    val a = sigNative.drop("shset")
    assert(a.except(sigRef).count() == 0 && sigRef.except(a).count() == 0)
    val setNative = sigNative.select(col("id"), explode(col("shset")).as("sh"))
    val setRef = m.select(col("id"),
      conv(substring(col("m"), 1, 15), 16, 10).cast("long").as("sh")).distinct()
    assert(setNative.except(setRef).count() == 0 &&
      setRef.except(setNative).count() == 0)
    sigNative.unpersist()
  }

  test("native Simhash32 expression matches the explode+groupBy path exactly") {
    val a = Dedup.simhash32(corpus, "id", "text")
    val b = Dedup.simhash32ViaGroupBy(corpus, "id", "text")
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("MinHash-LSH candidates recall the planted near-duplicate pairs") {
    val sig = Dedup.minhashSignature(corpus, "id", "text", n = 3, numHashes = 12)
    val cand = Dedup.candidatePairs(Dedup.lshBands(sig, 12, 3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = plantedIds.map(id => (id, id + 10000))
    val recall = expected.count(cand.contains).toDouble / expected.size
    assert(recall >= 0.9, s"LSH recall $recall over ${expected.size} planted pairs")
  }

  test("Jaccard on planted pairs is high; exact copies score 1.0") {
    val docs = Tables.documents(spark, sf).select(col("doc_id").as("id"), col("text"))
    val exactCopy = docs.filter(col("id") === 0)
      .select((col("id") + 20000).as("id"), col("text"))
    val c = corpus.unionByName(exactCopy)
    val pairs = plantedIds.map(id => (id, id + 10000)).toSeq ++ Seq((0L, 20000L))
    import spark.implicits._
    val j = Dedup.jaccardOnPairs(c, "id", "text", pairs.toDF("id_a", "id_b"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((0L, 20000L)) == 1.0)
    val planted = pairs.filterNot(_ == (0L, 20000L))
    // a 3-token suffix on a ≥10-token doc keeps most shingles shared;
    // the shortest fixture docs bottom out around 0.72
    assert(planted.forall(p => j.get(p).exists(v => v > 0.7 && v < 1.0)),
      s"planted-pair jaccards: ${planted.map(j.get)}")
    assert(j.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("SimHash: identical docs hamming 0; mutated copies within small distance") {
    val sh = Dedup.simhash32(corpus, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dists = plantedIds.toSeq.map(id =>
      java.lang.Long.bitCount(sh(id) ^ sh(id + 10000)))
    // a 3-token suffix barely moves the vote sums of a 50+-token doc
    assert(dists.count(_ <= 3).toDouble / dists.size >= 0.8,
      s"hamming distances of planted pairs: $dists")
    assert(sh.values.forall(v => v >= 0 && v < (1L << 32)))
  }

  test("native Simhash60 expression matches the explode+groupBy path exactly") {
    val a = Dedup.simhash60(corpus, "id", "text")
    val b = Dedup.simhash60ViaGroupBy(corpus, "id", "text")
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    // 60-bit hashes are sign-free int64s (the DuckDB-parity contract)
    assert(a.filter(col("simhash") < 0 || col("simhash") >= (1L << 60)).count() == 0)
  }

  test("60-bit simhashPairs at radius 5 equals brute force (wide-radius path)") {
    val sh = Dedup.simhash60(corpus, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sh.keys.toSeq.sorted
    import spark.implicits._
    val brute = (for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.size).iterator
      if java.lang.Long.bitCount(sh(ids(i)) ^ sh(ids(j))) <= 5
    } yield (ids(i), ids(j))).toSet
    val blocked = Dedup.simhashPairs(sh.toSeq.toDF("id", "simhash"), 5, hashBits = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute,
      s"blocked ${blocked.size} vs brute ${brute.size}; " +
        s"missing=${(brute -- blocked).take(3)} extra=${(blocked -- brute).take(3)}")
    // the planted mutated copies should still surface at the wide radius
    assert(brute.exists { case (a, b) => b - a == 10000 })
  }

  test("simhashPairs pigeonhole blocking is exact at every radius vs brute force") {
    // the blocked equi-join must find EXACTLY the pairs a quadratic scan
    // finds — at the classic byte-slice radius (3), at radii the old code
    // fell back to a cross join for (5, 7), and at the degenerate 0
    val sh = Dedup.simhash32(corpus, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sh.keys.toSeq.sorted
    import spark.implicits._
    val shDf = sh.toSeq.toDF("id", "simhash")
    for (maxDist <- Seq(0, 3, 5, 7)) {
      val brute = (for {
        i <- ids.indices.iterator; j <- (i + 1 until ids.size).iterator
        if java.lang.Long.bitCount(sh(ids(i)) ^ sh(ids(j))) <= maxDist
      } yield (ids(i), ids(j))).toSet
      val blocked = Dedup.simhashPairs(shDf, maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(blocked == brute,
        s"maxDist=$maxDist: blocked ${blocked.size} pairs, brute ${brute.size}; " +
          s"missing=${(brute -- blocked).take(3)} extra=${(blocked -- brute).take(3)}")
    }
    intercept[IllegalArgumentException](Dedup.simhashPairs(shDf, 32))
    // radius whose slices fall under 4 bits (32/16 = 2) is rejected up
    // front — the equi-join would be effectively all-pairs
    intercept[IllegalArgumentException](Dedup.simhashPairs(shDf, 15))
  }

  test("incrementalCandidates equal full-corpus candidates restricted to the batch") {
    val base = Tables.documents(spark, sf).select(col("doc_id").as("id"), col("text"))
    val batch = Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 10000).as("id"),
        concat(col("text"), lit(" zz yy xx")).as("text"))
    def bands(df: org.apache.spark.sql.DataFrame) =
      Dedup.lshBands(Dedup.minhashSignature(df, "id", "text"), 12, 3)
    val incremental = Dedup.incrementalCandidates(bands(batch), bands(base))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.candidatePairs(bands(base.unionByName(batch)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchIds = batch.select("id").collect().map(_.getLong(0)).toSet
    val fullTouchingBatch = full.filter(p => batchIds(p._1) || batchIds(p._2))
    assert(incremental == fullTouchingBatch)
    assert(incremental.nonEmpty)
  }

  test("arrivalReplay (closed-form backfill) equals the arrivalStep fold") {
    // 3 arrival generations over the planted corpus: originals, +10000
    // near-dups (suffix-mutated every 10th), +20000 exact copies of
    // every 4th — ids encode the batch, the backfill idiom
    val docs = Tables.documents(spark, sf).select(col("doc_id").as("id"), col("text"))
    val gen = docs
      .unionByName(docs.filter(col("id") % 10 === 0)
        .select((col("id") + 10000).as("id"),
          concat(col("text"), lit(" zz yy xx")).as("text")))
      .unionByName(docs.filter(col("id") % 4 === 0)
        .select((col("id") + 20000).as("id"), col("text")))
    val batches = Seq(
      gen.filter(col("id") < 10000),
      gen.filter(col("id") >= 10000 && col("id") < 20000),
      gen.filter(col("id") >= 20000))
    // reference: the sequential per-batch fold (the streaming shape)
    var docsSoFar = Option.empty[org.apache.spark.sql.DataFrame]
    var bandsSoFar = Option.empty[org.apache.spark.sql.DataFrame]
    for (batch <- batches) {
      val index = for (ds <- docsSoFar; bs <- bandsSoFar)
        yield (ds.select("id"), bs)
      val (ret0, bands0) = Dedup.arrivalStep(batch, index)
      val ret = ret0.select("id").localCheckpoint(false)
      val bands = bands0.localCheckpoint(false)
      docsSoFar = Some(docsSoFar.fold(ret)(_.unionByName(ret)))
      bandsSoFar = Some(bandsSoFar.fold(bands)(_.unionByName(bands)))
    }
    val foldIds = docsSoFar.get.collect().map(_.getLong(0)).toSet
    // BOTH regimes must equal the fold: the driver-side resolution over
    // the collected candidate graph (common case) and the distributed
    // per-batch rounds (forced by a zero collect bound)
    def replayIds() = Dedup.arrivalReplay(gen, "id", "text",
      id => when(id < 10000, 0).when(id < 20000, 1).otherwise(2), 3)
      .collect().map(_.getLong(0)).toSet
    val collected = replayIds()
    assert(collected == foldIds,
      s"replay diverged from fold: only-replay=${(collected -- foldIds).take(5)}, " +
        s"only-fold=${(foldIds -- collected).take(5)}")
    graft.RegimeBound.withBound(0) {
      val distributed = replayIds()
      assert(graft.io.Regime.lastDecision.get("arrival-cand") == "distributed")
      assert(distributed == foldIds,
        s"distributed-regime replay diverged from fold: " +
          s"only-replay=${(distributed -- foldIds).take(5)}, " +
          s"only-fold=${(foldIds -- distributed).take(5)}")
    }
    // sanity: the backfill actually dropped the planted duplicates
    assert(collected.size < gen.count())
  }

  test("containmentArrivalReplay (closed form) equals the containmentArrivalStep fold, both regimes") {
    // the x54 corpus shape: originals, +10000 head snippets (verbatim
    // inclusions), +20000 re-sent snippets + token-reversed docs
    val docs = Tables.documents(spark, sf).select(col("doc_id").as("id"), col("text"))
    def headSnip(pred: org.apache.spark.sql.Column, off: Long) = docs.filter(pred)
      .select(col("id"), split(col("text"), " ").as("t"))
      .select((col("id") + off).as("id"),
        array_join(slice(col("t"), lit(1),
          greatest(expr("size(t) div 5"), lit(4))), " ").as("text"))
    val gen = docs
      .unionByName(headSnip(col("id") % 25 === 0, 10000L))
      .unionByName(headSnip(col("id") % 50 === 0, 20000L))
      .unionByName(docs.filter(col("id") % 25 === 7)
        .select((col("id") + 20000L).as("id"),
          array_join(reverse(split(col("text"), " ")), " ").as("text")))
    val batches = Seq(
      gen.filter(col("id") < 10000),
      gen.filter(col("id") >= 10000 && col("id") < 20000),
      gen.filter(col("id") >= 20000))
    // reference: the sequential per-batch fold (the streaming shape)
    var state = Option.empty[(org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame)]
    val foldIds = scala.collection.mutable.Set.empty[Long]
    for (batch <- batches) {
      val (ret, st) = Dedup.containmentArrivalStep(batch, state)
      state = Some((st._1.localCheckpoint(false), st._2.localCheckpoint(false),
        st._3.localCheckpoint(false), st._4.localCheckpoint(false)))
      foldIds ++= ret.select("id").collect().map(_.getLong(0))
    }
    def replayIds() = Dedup.containmentArrivalReplay(gen, "id", "text",
      id => when(id < 10000, 0).when(id < 20000, 1).otherwise(2), 3)
      .collect().map(_.getLong(0)).toSet
    val collected = replayIds()
    assert(collected == foldIds.toSet,
      s"closed form diverged from step fold: " +
        s"only-replay=${(collected -- foldIds).take(5)}, " +
        s"only-fold=${(foldIds.toSet -- collected).take(5)}")
    graft.RegimeBound.withBound(0) {
      val distributed = replayIds()
      assert(graft.io.Regime.lastDecision.get("arrival-containment-cand")
        == "distributed")
      assert(distributed == foldIds.toSet,
        "distributed-regime containment replay diverged from the fold")
    }
    // the inclusion machinery actually fired: snippets dropped
    assert(collected.size < gen.count())
    // a REPLAYED delivery of retained docs is absorbed: drops, and does
    // not re-count into the df state (idempotent ingest retries)
    val dfBefore = state.get._4.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val resend = batches.head
      .join(state.get._1, Seq("id"), "left_semi").localCheckpoint(false)
    assert(resend.count() > 0)
    val (ret4, st4) = Dedup.containmentArrivalStep(resend, state)
    assert(ret4.isEmpty, "replayed delivery must be absorbed, not retained")
    val dfAfter = st4._4.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dfAfter == dfBefore,
      "replayed delivery must not inflate the df (hot-set) state")
  }

  test("arrivalReplay normalizes pairs by ARRIVAL order when id order disagrees") {
    // batch 0 carries the HIGH ids, batch 1 the low ids — a pair's
    // smaller id is the LATER arrival, so id-ordered resolution would
    // drop the wrong side; three exact-duplicate texts planted
    import spark.implicits._
    val docs = Seq(
      (5000L, "aa bb cc dd ee ff gg"), // batch 0 (retained: first arrival)
      (5001L, "zz yy xx ww vv uu tt"), // batch 0
      (1L, "aa bb cc dd ee ff gg"), // batch 1: dup of 5000 -> dropped
      (2L, "mm nn oo pp qq rr ss") // batch 1: unique -> retained
    ).toDF("id", "text")
    val got = Dedup.arrivalReplay(docs, "id", "text",
      id => when(id >= 5000, 0).otherwise(1), 2)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(5000L, 5001L, 2L), s"got $got")
  }

  test("connectedComponents: chains collapse transitively to the min id") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3 — needs multiple propagation rounds),
    // disjoint pair 10-11, triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    // both regimes must agree: driver-side union-find (default for small
    // graphs) and the distributed label-propagation loop (forced via
    // localThreshold = 0)
    for (threshold <- Seq(Long.MaxValue, 0L)) {
      val got = Dedup.connectedComponents(pairs, localThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"threshold=$threshold")
    }
  }

  test("connectedComponentsStar equals min-label propagation on random graphs (all regimes)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // randomized equality, union-find as the cheap witness: the DRIVER
    // regime (exercised across many random graphs — milliseconds each)
    // pins both public entry points to the same union-find; ONE
    // distributed trial per algorithm pins the expensive regimes to the
    // same answer (each distributed round is several Spark jobs, so
    // breadth lives in the driver regime, not here)
    def graph(n: Int) = (Seq.tabulate(n) { _ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
    } ++ (0 until 10).map(i => (100L + i, 101L + i))) // planted chain
      .filter { case (a, b) => a != b }
      .toDF("id_a", "id_b")
    for (trial <- 1 to 8) {
      val pairs = graph(30 + rnd.nextInt(40))
      val viaProp = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaStar = Dedup.connectedComponentsStar(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStar == viaProp, s"trial $trial: star != propagation (driver regime)")
    }
    val pairs = graph(40)
    val expected = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val distProp = Dedup.connectedComponents(pairs, maxIter = 60, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val distStar = Dedup.connectedComponentsStar(pairs, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distProp == expected, "distributed propagation != union-find")
    assert(distStar == expected, "distributed star != union-find")
  }

  test("connectedComponentsStar converges in O(log n) rounds on a deep chain") {
    import spark.implicits._
    // a 48-node chain has diameter 47: min-label propagation needs ~47
    // rounds (it THROWS at the default 25), the star alternation must
    // finish in a handful
    val chain = (0L until 47L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assertThrows[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 25, localThreshold = 0L).collect()
    }
    val (labels, rounds) =
      Dedup.connectedComponentsStarWithRounds(chain, localThreshold = 0L)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 47L).map(_ -> 0L).toMap)
    assert(rounds <= 8, s"expected O(log n) rounds on a 48-chain, took $rounds")
  }

  test("exact dedup groups only byte-identical texts") {
    val docs = Tables.documents(spark, sf).select(col("doc_id").as("id"), col("text"))
    val c = docs.unionByName(
      docs.filter(col("id") < 5).select((col("id") + 30000).as("id"), col("text")))
    val dups = Dedup.exactDups(c, "id", "text")
    assert(dups.filter(col("n_copies") === 2).count() == 5)
    // keep_id is always the lowest id of the group
    assert(dups.filter(col("n_copies") === 2)
      .agg(max("keep_id")).head().getLong(0) < 30000L)
    assert(dups.agg(sum("n_copies")).head().getLong(0) == c.count())
  }

  test("containment finds verbatim inclusions Jaccard-thresholded dedup misses") {
    // a 60%-truncated copy: every shingle of the copy is a shingle of
    // the source, so containment(copy → source) is exactly 1.0 while
    // Jaccard ≈ 0.6 — below any 0.8-0.9 near-dup threshold. This is the
    // signal x49 exists for (Broder's asymmetric resemblance).
    val docs = Tables.documents(spark, sf)
      .filter(col("doc_id") < 40)
      .select(col("doc_id").as("id"), col("text"))
    val c = docs.unionByName(docs.filter(col("id") % 4 === 0)
      .select(col("id"), split(col("text"), " ").as("t"))
      .select((col("id") + 50000).as("id"),
        array_join(slice(col("t"), lit(1),
          greatest(expr("(size(t) * 3) div 5"), lit(1))), " ").as("text")))
    val perDoc = Dedup.minhashWithSets(c, "id", "text", 3, 12).persist()
    // all planted (copy, source) pairs, bypassing candidate recall —
    // this test pins the SCORER, x49's oracle row pins the banding
    val sp = spark
    import sp.implicits._
    val pairs = (0L until 40L by 4).map(i => (i, i + 50000L)).toDF("id_a", "id_b")
    val scored = Dedup.containmentFromSets(perDoc, pairs)
      .collect().map(r => r.getLong(1) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val jac = Dedup.jaccardFromSets(perDoc, pairs)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    perDoc.unpersist()
    scored.foreach { case (copyId, (cSrcInCopy, cCopyInSrc)) =>
      assert(cCopyInSrc == 1.0,
        s"truncated copy $copyId not fully contained in its source ($cCopyInSrc)")
      assert(cSrcInCopy < 0.9,
        s"source unexpectedly contained in its truncation ($cSrcInCopy)")
      assert(jac(copyId) < 0.9,
        s"Jaccard ${jac(copyId)} would already catch copy $copyId — " +
          "the fixture no longer exercises the containment-only case")
    }
    assert(scored.size == 10)
  }

  test("bottom-k anchor candidates surface EVERY verbatim short-in-long inclusion (x50's recall floor)") {
    // 20%-length prefix copies (floored at 4 tokens) sit at jaccard ≈ 0.2
    // — below any practical banding's S-curve — yet every anchor of the
    // copy is in its source's postings by construction, so the candidate
    // join must surface ALL planted pairs: the recall floor for verbatim
    // inclusion is exact, not probabilistic. This pins the CANDIDATE
    // GENERATOR; the x50 oracle row pins end-to-end scoring.
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id").as("id"), col("text"))
    val planted = docs.filter(col("id") % 25 === 0)
      .select(col("id"), split(col("text"), " ").as("t"))
      .select((col("id") + 20000000L).as("id"),
        array_join(slice(col("t"), lit(1),
          greatest(expr("size(t) div 5"), lit(4))), " ").as("text"))
    val c = docs.unionByName(planted)
    val perDoc = Dedup.minhashWithSets(c, "id", "text", 3, 12).persist()
    val cand = Dedup.anchorContainmentCandidates(perDoc, k = 4, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = docs.filter(col("id") % 25 === 0).select("id")
      .collect().map(_.getLong(0)).map(i => (i, i + 20000000L)).toSet
    perDoc.unpersist()
    val missed = expected -- cand
    assert(missed.isEmpty,
      s"planted verbatim inclusions missed by anchor candidates: $missed")
    // jaccard really is below the banding regime for the planted pairs —
    // the fixture exercises the case x49's 6x2 banding cannot serve
    val sp = spark
    import sp.implicits._
    val perDoc2 = Dedup.minhashWithSets(c, "id", "text", 3, 12).persist()
    val jmax = Dedup.jaccardFromSets(perDoc2,
        expected.toSeq.toDF("id_a", "id_b"))
      .agg(max("jaccard")).head().getDouble(0)
    perDoc2.unpersist()
    assert(jmax < 0.5,
      s"planted inclusions reach jaccard $jmax — banding would already catch them")
  }
}
