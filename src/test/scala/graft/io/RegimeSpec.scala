package graft.io

import graft.{SparkEntry, SparkTestSession}
import graft.RegimeBound.withBound
import org.scalatest.funsuite.AnyFunSuite

/** The driver-small contract is CODE, not documentation (r6 verdict
  * items 1-2): query sites whose cached artifact grows with the corpus
  * (x6/x7 LSH candidate pairs, x19/x20 cluster map, x21 vocabulary)
  * dispatch by measured size through [[Regime.collectIfSmall]]. These
  * tests plant an over-bound input — by forcing the row bound below the
  * fixture's artifact size, equivalent to growing the corpus past a
  * fixed bound — and pin (a) the distributed regime actually ran (no
  * driver collect: decision record + no LocalRelation in the plan where
  * the collected spelling would have one) and (b) both regimes are
  * value-identical row-for-row, so the correctness gate's oracle hash
  * holds in either regime. Plus the [[ArtifactCache]] size cap itself:
  * an over-cap build is served but never stored. */
class RegimeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq

  private def decision(key: String): String =
    Regime.lastDecision.get(key)

  test("x6/x7: over-bound candidate set serves the distributed banding pipeline, value-identical") {
    ArtifactCache.clear()
    val base6 = rows("x6_minhash_lsh")
    val base7 = rows("x7_jaccard_neardup")
    val key = s"lsh-cand:dupCorpus:12x3:$sf"
    assert(decision(key) == "collected", "fixture-sized pair list should collect")
    ArtifactCache.clear()
    withBound(1) {
      val d6 = SparkEntry.queries("x6_minhash_lsh")(spark, sf)
      assert(decision(key) == "distributed",
        "bound of 1 row must force the distributed regime")
      val plan = d6.queryExecution.optimizedPlan.toString
      assert(!plan.contains("LocalRelation"),
        s"x6 still serves a driver-collected relation:\n${plan.linesIterator.take(15).mkString("\n")}")
      assert(d6.collect().map(_.toString).toSeq == base6,
        "distributed x6 drifted from the collected regime")
      assert(rows("x7_jaccard_neardup") == base7,
        "distributed x7 drifted from the collected regime")
    }
    ArtifactCache.clear()
  }

  test("x19/x20: over-bound cluster map stays a distributed frame, value-identical") {
    ArtifactCache.clear()
    val base19 = rows("x19_dedup_clusters")
    val base20 = rows("x20_dedup_survivors")
    val key = s"cc:corpus3:minhash12x3:$sf"
    assert(decision(key) == "collected")
    ArtifactCache.clear()
    withBound(1) {
      val d19 = SparkEntry.queries("x19_dedup_clusters")(spark, sf)
      assert(decision(key) == "distributed")
      // the over-bound label frame must be genuinely distributed
      // (checkpoint-backed), NOT a driver LocalRelation smuggled back in
      // by CC's own union-find shortcut — the r7 composition-gap fix
      val plan = d19.queryExecution.optimizedPlan.toString
      assert(!plan.contains("LocalRelation"),
        s"x19 still serves a driver-collected relation:\n${plan.linesIterator.take(15).mkString("\n")}")
      assert(d19.collect().map(_.toString).toSeq == base19,
        "distributed x19 drifted from the collected regime")
      assert(rows("x20_dedup_survivors") == base20,
        "distributed x20 drifted from the collected regime")
    }
    ArtifactCache.clear()
  }

  test("x21: over-bound vocabulary joins as a table (shuffle join, no local relation), value-identical") {
    ArtifactCache.clear()
    val base = rows("x21_tfidf_topk")
    val key = s"tfidf-df:documents:$sf"
    assert(decision(key) == "collected")
    ArtifactCache.clear()
    withBound(1) {
      val d = SparkEntry.queries("x21_tfidf_topk")(spark, sf)
      assert(decision(key) == "distributed")
      val plan = d.queryExecution.optimizedPlan.toString
      assert(!plan.contains("LocalRelation"),
        s"x21 still serves a driver-collected vocabulary:\n${plan.linesIterator.take(15).mkString("\n")}")
      assert(d.collect().map(_.toString).toSeq == base,
        "vocabulary-as-table x21 drifted from the broadcast regime")
    }
    ArtifactCache.clear()
  }

  test("x47: no vocabulary-wide artifact on the BM25 path, value-identical under a forced bound") {
    ArtifactCache.clear()
    Regime.lastDecision.remove(s"tfidf-df:documents:$sf")
    val base = rows("x47_bm25_topk")
    // r22: x47 no longer builds the df vocabulary table at all — df is
    // a window count over the query-restricted postings slice and the
    // avgdl integers ride one totals action, so NO regime dispatch is
    // recorded on this path (the honest statement of "zero
    // vocabulary-wide artifact builds"); x21's test above still pins
    // the df artifact's over-bound regime for its real consumer.
    assert(decision(s"tfidf-df:documents:$sf") == null,
      "x47 built the df vocabulary artifact it no longer needs")
    ArtifactCache.clear()
    withBound(1) {
      // the forced bound exercises every regime-dispatched artifact x47
      // still composes over (none today) — value identity must hold
      assert(rows("x47_bm25_topk") == base,
        "x47 drifted under a forced regime bound")
    }
    ArtifactCache.clear()
  }

  test("x40: over-bound frequent-line set rebuilds via the exploded join, value-identical") {
    ArtifactCache.clear()
    val base = rows("x40_line_dedup")
    val key = s"boiler:dup20:8x2:$sf"
    assert(decision(key) == "collected", "fixture-sized boilerplate set should collect")
    ArtifactCache.clear()
    withBound(1) {
      val d = SparkEntry.queries("x40_line_dedup")(spark, sf)
      assert(decision(key) == "distributed")
      val plan = d.queryExecution.optimizedPlan.toString
      assert(!plan.contains("LocalRelation"),
        s"x40 still serves a driver-collected line set:\n${plan.linesIterator.take(15).mkString("\n")}")
      assert(d.collect().map(_.toString).toSeq == base,
        "distributed x40 rebuild drifted from the row-local regime")
    }
    ArtifactCache.clear()
  }

  test("x41: over-bound unigram table joins as a table, value-identical") {
    ArtifactCache.clear()
    val base = rows("x41_unigram_nll")
    val key = s"unigram-tf:documents:$sf"
    assert(decision(key) == "collected")
    ArtifactCache.clear()
    withBound(1) {
      val d = SparkEntry.queries("x41_unigram_nll")(spark, sf)
      assert(decision(key) == "distributed")
      val plan = d.queryExecution.optimizedPlan.toString
      assert(!plan.contains("LocalRelation"),
        s"x41 still serves a driver-collected unigram table:\n${plan.linesIterator.take(15).mkString("\n")}")
      assert(d.collect().map(_.toString).toSeq == base,
        "unigram-as-table x41 drifted from the broadcast regime")
    }
    ArtifactCache.clear()
  }

  // the remaining sites served through Regime.serve/serveWith, each at
  // query level: collected at fixture scale, distributed under a forced
  // bound, value-identical either way (query -> the artifact keys it
  // dispatches)
  private val forcedSites = Seq(
    "x49_containment" -> Seq(s"lsh-cand:containment:12x2:$sf"),
    "x50_inclusion" -> Seq(s"anchor-cand:inclusion:k4df64:$sf"),
    "x43_dsir_select" -> Seq(
      s"unigram-tf-target-en:documents:$sf", s"unigram-tf:documents:$sf"),
    "x36_quality_survivors" -> Seq(s"cc:corpus3:minhash12x3:$sf"),
    "x22_contamination" -> Seq(s"bench-grams:3:$sf"),
    "x42_decontaminate" -> Seq(s"bench-grams:3:$sf"))

  for ((query, keys) <- forcedSites)
    test(s"$query: forced bound serves the distributed regime, value-identical") {
      ArtifactCache.clear()
      keys.foreach(Regime.lastDecision.remove)
      val base = rows(query)
      for (k <- keys) assert(decision(k) == "collected", s"$k should collect at fixture scale")
      ArtifactCache.clear()
      withBound(0) {
        val forced = rows(query)
        for (k <- keys) assert(decision(k) == "distributed", s"$k ignored the forced bound")
        assert(forced == base, s"distributed $query drifted from the collected regime")
      }
      ArtifactCache.clear()
    }

  test("x43 cold under group a, then under group b: every job of each run carries its group") {
    // x43 overlaps its two unigram builds on a second thread; that
    // thread's jobs must carry the caller's job group, also when an
    // earlier call ran under another group
    val jobs = new graft.JobGroups(spark.sparkContext)
    try {
      for (group <- Seq("a", "b")) {
        ArtifactCache.clear()
        val begin = jobs.marker(s"begin-$group")
        spark.sparkContext.setJobGroup(group, s"cold x43 under $group")
        rows("x43_dsir_select")
        val end = jobs.marker(s"end-$group")
        val during = jobs.started.filter { case (id, _) => id > begin && id < end }
        assert(during.nonEmpty)
        val stray = during.filter(_._2 != group)
        assert(stray.isEmpty, s"jobs of the run under $group carried other groups: $stray")
      }
    } finally {
      spark.sparkContext.clearJobGroup()
      jobs.remove()
      ArtifactCache.clear()
    }
  }

  test("ArtifactCache refuses to store an over-cap artifact but still serves it") {
    ArtifactCache.clear()
    val before = ArtifactCache.rejected.get()
    var builds = 0
    def build(): Array[Byte] = { builds += 1; new Array[Byte](2 << 20) }
    val a = ArtifactCache.getOrBuild("spec:over-cap")(build())
    assert(a.length == 2 << 20, "over-cap value must still be served")
    assert(ArtifactCache.size == 0, "over-cap value must not be stored")
    assert(ArtifactCache.rejected.get() == before + 1)
    ArtifactCache.getOrBuild("spec:over-cap")(build())
    assert(builds == 2, "an unstored artifact rebuilds on next use")
    // a bounded artifact under the same regime still caches
    val small = ArtifactCache.getOrBuild("spec:under-cap")(Vector.fill(10)(1L))
    assert(small.size == 10 && ArtifactCache.size == 1)
    ArtifactCache.clear()
  }

  test("roughBytes scales with collection size and samples long sequences") {
    import ArtifactCache.roughBytes
    val tiny = roughBytes(Vector.fill(10)((1L, 2L)))
    val big = roughBytes(Vector.fill(100000)((1L, 2L)))
    assert(big > tiny * 1000, s"estimate must grow with size ($tiny vs $big)")
    assert(roughBytes(new Array[Byte](1024)) >= 1024)
    assert(roughBytes("x" * 500) >= 1000)
  }

  test("concurrent first-callers race safely: both served complete, identical results") {
    // getOrBuild's documented race (duplicate builds, loser discarded)
    // composed with Regime probes and index builds: two threads hitting
    // the same cold key must both get the full, correct result — pinned
    // because r6 shipped (and fixed) a CHM re-entrancy crash here
    ArtifactCache.clear()
    val baseline = rows("x6_minhash_lsh")
    ArtifactCache.clear()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val fs = (1 to 2).map(_ => Future(rows("x6_minhash_lsh")))
    val got = fs.map(Await.result(_, 120.seconds))
    assert(got.forall(_ == baseline), "a racing caller saw a wrong result")
    ArtifactCache.clear()
  }

  test("retainOnly keeps only matching keys (Bench's between-rep hygiene)") {
    ArtifactCache.clear()
    ArtifactCache.getOrBuild("import:a")(Vector(1))
    ArtifactCache.getOrBuild("lsh-cand:b")(Vector(2))
    ArtifactCache.retainOnly(_.startsWith("import:"))
    assert(ArtifactCache.size == 1)
    assert(ArtifactCache.getOrBuild("import:a")(Vector(9)) == Vector(1),
      "import entry must survive the sweep")
    ArtifactCache.clear()
  }
}
