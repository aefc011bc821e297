package graft.ext

import graft.SparkTestSession
import graft.io.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("quantized cosine of a vector with itself is 1.0") {
    val prep = Similarity.prepared(Tables.embeddings(spark, sf), "vec_id", "embedding")
    val self = prep.select(
      (Similarity.dotQ(col("qv"), col("qv")).cast("double") /
        (col("nrm") * col("nrm"))).as("c"))
      .agg(min("c"), max("c")).head()
    assert(math.abs(self.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(self.getDouble(1) - 1.0) < 1e-12)
  }

  test("native QuantizeVec and HyperplaneBucket match the HOF spellings exactly") {
    val emb = Tables.embeddings(spark, sf)
    val hofQ = transform(col("embedding"),
      x => round(x.cast("double") * lit(1000000.0)).cast("long"))
    val qDiff = emb.select(
      Similarity.quantize(col("embedding")).as("a"), hofQ.as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(qDiff == 0, s"$qDiff rows where QuantizeVec != HOF round spelling")

    val ps = Similarity.planes(8, 64)
    val prep = Similarity.prepared(emb, "vec_id", "embedding")
    val bDiff = prep.select(
      graft.functions.HyperplaneBucket(col("qv"), ps).as("a"),
      Similarity.lshBucket(
        transform(col("qv"), x => x.cast("double") / lit(1000000.0)), ps).as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(bDiff == 0, s"$bDiff rows where HyperplaneBucket != HOF lshBucket")
  }

  test("brute-force top-k is symmetric-scored and self-free") {
    val prep = Similarity.prepared(Tables.embeddings(spark, sf), "vec_id", "embedding").cache()
    val topk = Similarity.bruteForceTopK(prep.filter(col("id") < 5), prep, k = 3)
    val rows = topk.collect()
    assert(rows.length == 15) // 5 queries × 3
    assert(rows.forall(r => r.getLong(r.fieldIndex("query_id")) !=
      r.getLong(r.fieldIndex("neighbor_id"))))
    assert(rows.forall(r => math.abs(r.getDouble(r.fieldIndex("cosine"))) <= 1.0 + 1e-12))
  }

  test("ANN with multiprobe LSH reaches usable recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val prep = Similarity.prepared(emb, "vec_id", "embedding").cache()
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(
      prep.filter(col("id") < 20), prep, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annTopK(queries, emb, "vec_id", "embedding", k = 5, numPlanes = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // 4 planes + hamming-1 multiprobe probes 5/16 of the space; random
    // 64-dim embeddings are near-orthogonal so absolute recall is modest —
    // the assertion pins that bucketing beats random candidate selection
    // (which would give ~recall 0.31 of candidates × top-5 hit rate ≈ 0.05).
    assert(recall >= 0.15, s"recall $recall")
  }

  test("IVF top-k: self-free, ranked, and beats random-candidate recall") {
    val emb = Tables.embeddings(spark, sf)
    val prep = Similarity.prepared(emb, "vec_id", "embedding").cache()
    val exact = Similarity.bruteForceTopK(prep.filter(col("id") < 20), prep, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(
      emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
      k = 5, nLists = 8, nProbe = 4)
    val rows = ivf.collect()
    assert(rows.forall(r => r.getLong(r.fieldIndex("query_id")) !=
      r.getLong(r.fieldIndex("neighbor_id"))))
    // per-query ranks are 1..k with no gaps
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.values.forall(rs =>
      rs.map(r => r.getInt(r.fieldIndex("rank"))).sorted.sameElements(1 to rs.length)))
    val approx = rows
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("neighbor_id"))))
      .toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // probing 4/8 lists scores ~half the corpus; random candidate
    // selection at that budget would land ~0.5 recall only if top
    // neighbors were uniform — near-orthogonal random vectors make IVF
    // lists weakly informative, so pin a floor well above chance×k.
    assert(recall >= 0.3, s"recall $recall")
  }

  test("k-means quantizer: deterministic, grid-exact, recall holds or improves vs sampled init") {
    val emb = Tables.embeddings(spark, sf)
    val sampled = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", nLists = 8)
    val kmeans = Similarity.trainIvfKmeans(emb, "vec_id", "embedding", nLists = 8, rounds = 2)
    // same list ids, training is deterministic (re-train → identical)
    assert(kmeans.map(_.listId) == sampled.map(_.listId))
    assert(Similarity.trainIvfKmeans(emb, "vec_id", "embedding", nLists = 8, rounds = 2) == kmeans)
    // centroids stay on the int grid with norms recomputed from the grid
    kmeans.foreach { c =>
      assert(math.abs(c.nrm - math.sqrt(c.qv.map(v => v * v).sum.toDouble)) == 0.0)
    }
    // Lloyd's refinement must not LOSE recall vs the raw sample on the
    // fixture (deterministic data + deterministic training → a stable
    // number, not a flaky bound)
    val prep = Similarity.prepared(emb, "vec_id", "embedding").cache()
    val exact = Similarity.bruteForceTopK(prep.filter(col("id") < 20), prep, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(cents: Seq[Similarity.IvfCentroid]): Double = {
      val approx = Similarity.ivfTopKIndexed(
        emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
        k = 5, centroids = cents, nProbe = 4)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val rSampled = recallOf(sampled)
    val rKmeans = recallOf(kmeans)
    assert(rKmeans >= rSampled,
      s"k-means recall $rKmeans regressed below sampled-init recall $rSampled")
  }

  test("training regimes are bit-identical: driver-collected == distributed (k-means and PQ)") {
    // the regime dispatch must be INVISIBLE in the trained artifacts:
    // force the distributed path with a planted tiny bound and compare
    // against the (default, collected-at-fixture-scale) driver path —
    // centroid-for-centroid and codeword-for-codeword
    val emb = Tables.embeddings(spark, sf)
    val driverK = Similarity.trainIvfKmeans(emb, "vec_id", "embedding", nLists = 8, rounds = 2)
    val driverP = Similarity.trainPqCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 8, rounds = 2)
    assert(graft.io.Regime.lastDecision.get("ivf-train") == "collected")
    assert(graft.io.Regime.lastDecision.get("pq-train") == "collected")
    graft.RegimeBound.withBound(4) {
      val distK = Similarity.trainIvfKmeans(emb, "vec_id", "embedding", nLists = 8, rounds = 2)
      val distP = Similarity.trainPqCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 8, rounds = 2)
      assert(graft.io.Regime.lastDecision.get("ivf-train") == "distributed")
      assert(graft.io.Regime.lastDecision.get("pq-train") == "distributed")
      assert(distK == driverK, "k-means centroids differ across training regimes")
      assert(distP == driverP, "PQ codebooks differ across training regimes")
    }
  }

  test("IVFPQ: deterministic codes, exact duplicates rank first, usable recall at 64x compression") {
    val emb = Tables.embeddings(spark, sf)
    // plant exact copies: identical vectors encode to IDENTICAL codes,
    // so the copy's ADC score equals the query's self-score — it MUST
    // rank first for its query (the PQ analog of x35's planted-copy
    // argument)
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(
      emb.filter(col("vec_id") < 8)
        .select((col("vec_id") + 10000L).as("vec_id"), col("embedding")))
    val cents = Similarity.trainIvfKmeans(emb, "vec_id", "embedding",
      nLists = 8, rounds = 2)
    val cbs = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 16, rounds = 2)
    assert(cbs.cb.size == 8 * 16 * 8 && cbs.subDim == 8)
    // training is deterministic: a second run is bit-identical
    assert(Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 16, rounds = 2).cb == cbs.cb)
    val queries = emb.filter(col("vec_id") < 8)
    val top = Similarity.ivfpqTopK(queries, corpus, "vec_id", "embedding",
      k = 5, centroids = cents, cbs = cbs, nProbe = 4).collect()
    val byQ = top.groupBy(_.getLong(0))
    assert(byQ.size == 8)
    byQ.foreach { case (q, rs) =>
      assert(rs.forall(r => r.getLong(r.fieldIndex("neighbor_id")) != q))
      assert(rs.map(r => r.getInt(r.fieldIndex("rank"))).sorted
        .sameElements(1 to rs.length))
      val first = rs.minBy(_.getInt(1))
      assert(first.getLong(first.fieldIndex("neighbor_id")) == q + 10000L,
        s"query $q: the exact planted copy did not rank first " +
          s"(got ${first.getLong(first.fieldIndex("neighbor_id"))})")
    }
    // against exact brute force the quantized search keeps usable recall
    val prepC = Similarity.prepared(corpus, "vec_id", "embedding").cache()
    val exact = Similarity.bruteForceTopK(
      prepC.filter(col("id") < 8), prepC, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = top.map(r => (r.getLong(0),
      r.getLong(r.fieldIndex("neighbor_id")))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // DIFFUSE regime (random near-orthogonal vectors, background cosine
    // ~0.4): IVF probing costs some recall and 64x PQ compression costs
    // more — 0.2 pins "far above chance" here (chance ≈ 0.05); the
    // NEAR-NEIGHBOR operating point, where the published guarantees
    // live, is gated at >= 0.9 by the preflight recall probe
    // (Profile.recall — ivfpq@10 beside ann/ivf)
    assert(recall >= 0.2, s"IVFPQ recall $recall vs brute force")
    prepC.unpersist()
  }

  test("exact rerank (x52): refined order equals brute-force cosine over the shortlist, recall never drops") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.trainIvfKmeans(emb, "vec_id", "embedding",
      nLists = 8, rounds = 2)
    val cbs = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 16, rounds = 2)
    val queries = emb.filter(col("vec_id") < 8)
    val shortlist = Similarity.ivfpqTopK(queries, emb, "vec_id", "embedding",
      k = 20, centroids = cents, cbs = cbs, nProbe = 4)
    val refined = Similarity.rerankExact(queries, emb, "vec_id", "embedding",
      shortlist, k = 5).collect()
    // the refine CONTRACT: within each query's shortlist, the served
    // order is exactly the brute-force cosine order (quantization error
    // gone), with the deterministic neighbor_id tie-break
    val prep = Similarity.prepared(emb, "vec_id", "embedding").cache()
    val shortSets = shortlist.select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exactAll = Similarity.bruteForceTopK(
      prep.filter(col("id") < 8), prep, k = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(r.fieldIndex("neighbor_id")),
        r.getDouble(r.fieldIndex("cosine"))))
    refined.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val expect = exactAll.filter(e => e._1 == q && shortSets(q)(e._2))
        .sortBy(e => (-e._3, e._2)).take(5).map(_._2).toSeq
      val got = rs.sortBy(_.getInt(1))
        .map(r => r.getLong(r.fieldIndex("neighbor_id"))).toSeq
      assert(got == expect,
        s"query $q: refined order $got != exact-over-shortlist $expect")
    }
    // rescoring a SUPERSET shortlist can only help: refined top-5 recall
    // vs brute force is >= the ADC-only top-5's
    val exactTop5 = exactAll.groupBy(_._1).view.mapValues(
      _.sortBy(e => (-e._3, e._2)).take(5).map(_._2).toSet).toMap
    val adcTop5 = Similarity.ivfpqTopK(queries, emb, "vec_id", "embedding",
      k = 5, centroids = cents, cbs = cbs, nProbe = 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(
        _.map(r => r.getLong(r.fieldIndex("neighbor_id"))).toSet).toMap
    def recall(m: Map[Long, Set[Long]]): Double =
      exactTop5.map { case (q, ex) =>
        (ex intersect m.getOrElse(q, Set.empty)).size.toDouble / ex.size
      }.sum / exactTop5.size
    val refinedTop5 = refined.groupBy(_.getLong(0)).view.mapValues(
      _.map(r => r.getLong(r.fieldIndex("neighbor_id"))).toSet).toMap
    assert(recall(refinedTop5) >= recall(adcTop5) - 1e-12,
      s"refine lowered recall: ${recall(refinedTop5)} < ${recall(adcTop5)}")
    prep.unpersist()
  }

  test("cluster-balanced resample: small clusters keep everything, hot clusters thin toward the share") {
    val out = graft.SparkEntry.queries("x39_cluster_balance")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.trainIvfKmeans(emb, "vec_id", "embedding", nLists = 16, rounds = 2)
    val sizes = Similarity.assignClusters(
        Similarity.prepared(emb, "vec_id", "embedding"), cents)
      .groupBy("list_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val kept = out.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val share = 256L / 16
    sizes.foreach { case (c, n) =>
      val k = kept.getOrElse(c, 0L)
      assert(k <= n, s"cluster $c kept $k of $n")
      if (n <= share)
        assert(k == n, s"cluster $c under the share ($n <= $share) must keep all, kept $k")
    }
    // the rate-based draw lands near the budget (binomial, not exact-k)
    val total = out.length
    assert(total >= 128 && total <= 384, s"kept $total of budget 256")
  }

  test("roundDiv is exact round-half-up for both signs") {
    import Similarity.roundDiv
    assert(roundDiv(5, 2) == 3 && roundDiv(-5, 2) == -2) // -2.5 -> -2 (half up)
    assert(roundDiv(4, 2) == 2 && roundDiv(-4, 2) == -2)
    assert(roundDiv(7, 3) == 2 && roundDiv(-7, 3) == -2)
    assert(roundDiv(0, 7) == 0)
  }

  test("LSH-blocked near-dup returns exactly the all-pairs result") {
    val base = Tables.embeddings(spark, sf)
    val corpus = base.select(col("vec_id"), col("embedding"))
      .unionByName(base.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    val prep = Similarity.prepared(corpus, "vec_id", "embedding").cache()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.nearDupPairsExact(prep, 0.99))
    val blocked = pairs(Similarity.nearDupPairs(prep, 0.99))
    assert(blocked == exact, s"blocked=$blocked exact=$exact")
    prep.unpersist()
  }

  test("dim probe skips a NULL or empty leading vector instead of emptying the result") {
    import spark.implicits._
    val vec = (1 to 8).map(_.toFloat)
    val rows: Seq[(Long, Option[Seq[Float]])] = Seq(
      (1L, None),                 // NULL embedding first
      (2L, Some(Seq.empty)),      // then a zero-length one
      (3L, Some(vec)),
      (4L, Some(vec)))            // planted exact dup of 3
    val df = rows.toDF("vec_id", "embedding")
    val prep = Similarity.prepared(df, "vec_id", "embedding")
    // unfiltered: the probe itself must skip rows 1-2 (NULL bucket rows
    // drop out of the equi-join; the empty vector's NaN cosine filters)
    val got = Similarity.nearDupPairs(prep, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 4L)))
  }

  test("blocked near-dup recall on planted NON-identical pairs (multiprobe depth)") {
    // Perturbed copies at cosine ~0.998 — unlike the exact-copy plants,
    // these can land in DIFFERENT LSH buckets, exercising the multiprobe
    // recall claim rather than the identical-codes-always-collide one.
    // Perturbation is multiplicative ±10% with a deterministic per-(id,
    // index) pattern, so the test is exactly reproducible.
    val base = Tables.embeddings(spark, sf)
    val pert = base.select(
      (col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x.cast("double") *
          (lit(1.0) + ((i * 37 + col("vec_id") * 11) % 21 - 10).cast("double") / 100.0))
          .cast("float")).as("embedding"))
    val corpus = base.select(col("vec_id"), col("embedding")).unionByName(pert)
    val prep = Similarity.prepared(corpus, "vec_id", "embedding").cache()

    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.nearDupPairsExact(prep, 0.99))
    val planted = base.select("vec_id").collect().map(_.getLong(0))
      .map(id => (id, id + 10000)).toSet
    // construction sanity: every perturbed copy really is a ≥0.99 near-dup
    assert(planted.subsetOf(exact), s"missing from exact: ${planted -- exact}")

    // the plants must actually spread across LSH buckets, or this spec
    // would only re-test the identical-codes case
    val ps = Similarity.planes(8, 64)
    val codes = prep.select(col("id"),
      Similarity.lshBucket(transform(col("qv"), x => x.cast("double") / 1e6), ps).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hams = planted.toSeq.map { case (a, b) =>
      java.lang.Long.bitCount(codes(a) ^ codes(b))
    }
    assert(hams.exists(_ > 0), s"all planted pairs landed in identical buckets: $hams")

    val blocked1 = pairs(Similarity.nearDupPairs(prep, 0.99, probeDepth = 1))
    val blocked2 = pairs(Similarity.nearDupPairs(prep, 0.99, probeDepth = 2))
    // deeper probing can only add candidates
    assert(blocked1.subsetOf(blocked2))
    // every pair within probe reach (hamming ≤ depth) MUST be found
    val within2 = planted.toSeq.filter { case (a, b) =>
      java.lang.Long.bitCount(codes(a) ^ codes(b)) <= 2
    }.toSet
    assert(within2.subsetOf(blocked2),
      s"missed within-reach pairs: ${within2 -- blocked2}")
    val recall2 = (exact intersect blocked2).size.toDouble / exact.size
    assert(recall2 >= 0.9, s"depth-2 recall $recall2 (hamming spread: $hams)")
    prep.unpersist()
  }

  test("embedding near-dup finds planted exact copies") {
    val base = Tables.embeddings(spark, sf)
    val corpus = base.select(col("vec_id"), col("embedding"))
      .unionByName(base.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    val dups = Similarity.nearDupPairs(
      Similarity.prepared(corpus, "vec_id", "embedding"), 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = base.filter(col("vec_id") % 25 === 0)
      .select("vec_id").collect().map(_.getLong(0))
      .map(id => (id, id + 10000)).toSet
    assert(planted.subsetOf(dups))
  }

  test("SemDeDup: exact copies never split across clusters; pairs are a same-cluster subset of all-pairs") {
    val base = Tables.embeddings(spark, sf)
    val corpus = base.select(col("vec_id"), col("embedding"))
      .unionByName(base.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    val prep = Similarity.prepared(corpus, "vec_id", "embedding").cache()
    val cents = Similarity.trainIvfCentroids(base, "vec_id", "embedding", nLists = 16)
    val sem = Similarity.semDedupPairs(prep, cents, threshold = 0.99)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // identical vectors rank centroids identically → planted exact
    // copies always land in one cluster and must all surface
    val planted = base.filter(col("vec_id") % 25 === 0)
      .select("vec_id").collect().map(_.getLong(0))
      .map(id => (id, id + 10000)).toSet
    assert(planted.subsetOf(sem), s"missed planted: ${(planted -- sem).take(3)}")
    // soundness: every reported pair is a true >= 0.99 pair (subset of
    // the quadratic baseline); the difference is exactly the documented
    // cross-cluster misses, never an invented pair
    val exact = Similarity.nearDupPairsExact(prep, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(exact), s"invented pairs: ${(sem -- exact).take(3)}")
    prep.unpersist()
  }
}
