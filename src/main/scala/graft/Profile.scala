package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Dev-loop profiler, not part of the `SparkEntry` contract. Usage:
  * {{{
  *   Profile <mode-or-query>[,...] [sfDir] [reps=3]
  * }}}
  * `sfDir` defaults to the sf0.1 fixture.
  * Every run reads `SPARK_GRAFT_CPUS` (cores, default 32) and builds the
  * Bench-mirroring [[LocalSession]], so its timings predict the bench's.
  *
  * Gate modes, run by the `tools/` scripts:
  *  - `recall` (tools/preflight.sh): recall@10 of the ANN, IVF and IVF-PQ
  *    paths against brute force at replica scale, required ≥ 0.9.
  *    Reads `SPARK_GRAFT_SOAK_REPS` (default 10).
  *  - `soakgate` (tools/soak.sh): the top bench rows plus one bulk
  *    merge-on-read upsert on a replica fixture, with regime dispatch
  *    audited. Reads `SPARK_GRAFT_SOAK_REPS`.
  *  - `sftrend` (tools/sftrend.sh): cold wall time of the top bench rows
  *    at 1× and at replica scale, required to grow at most linearly.
  *    Reads `SPARK_GRAFT_SOAK_REPS`, `SPARK_GRAFT_TREND_SLACK` (default
  *    2.0) and `SPARK_GRAFT_TREND_FLOOR` (default 1.5 s).
  *
  * Evidence modes, each over the comma list `SPARK_GRAFT_PROBE_QUERIES`:
  *  - `coldjobs` (default `x45_bigram_nll`): Bench's cold protocol with
  *    construction / planning / execution time and every job's duration,
  *    task count, phase and call site.
  *  - `kdetail` (default `k13_change_feed,k17_catalog_merge,
  *    k20_catalog_update`): every job of the timed body, plus the
  *    LogTable fold counters.
  *  - `explain` (default `x48_rrf_fusion`): node counts of the executed
  *    plan; `SPARK_GRAFT_EXPLAIN_FULL=1` prints the plan too.
  *  - `planscan`: every suite query whose physical plan holds a
  *    CartesianProduct or BroadcastNestedLoopJoin (PlanSpec's gate).
  *
  * Any other name is a `SparkEntry.queries` row, timed `reps` times. */
object Profile {
  /** The most expensive bench rows at sf0.1 — the set both scale gates
    * (soakgate, sftrend) exercise at replica scale. r18 adds the two
    * retrieval rows (x47/x48 now top the cold list): at replica scale
    * their work is |queries|·|matching postings|, and the suffixed
    * replica tokens keep each query matching only its own replica — so
    * the gates audit that retrieval stays linear, not queries×corpus. */
  private val soakTop10 = Seq("x46_ivfpq_topk", "x45_bigram_nll",
    "x36_quality_survivors", "x44_dup_span_scrub", "x35_semdedup",
    "x16_ivf_topk", "x39_cluster_balance", "x19_dedup_clusters",
    "x43_dsir_select", "x20_dedup_survivors",
    "x47_bm25_topk", "x48_rrf_fusion",
    // r19: the anchor-probe candidate join (x50 — the linearity claim
    // is ≤ k·maxDf·|docs| candidates), the interpolated-LM scoring
    // pass (x51), and the two-stage exact rerank (x52) audited at
    // replica scale like the rest
    "x50_inclusion", "x51_interp_nll", "x52_pq_rerank",
    // r20: incremental LM maintenance (x53 — the log-table fixture is
    // per-sfDir setup, excluded by min-of-2; the measured body must
    // stay O(delta + gram-table merge)) and arrival containment dedup
    // (x54 — same candidate-join linearity claim as x50, arrival-aware)
    "x53_incremental_lm", "x54_arrival_inclusion")

  /** Build (or reuse) the SOAK fixture: a `reps`× replica of the sf
    * dir's documents/embeddings with the other tables symlinked.
    * Per-TOKEN replica suffixes make vocabulary scale ×reps with zero
    * cross-replica Jaccard (near-dup work scales linearly while
    * vocabulary-class artifacts are forced over the regime bound);
    * element ROTATION keeps replica vectors near-orthogonal (no
    * cross-replica near-dups). Gated on _SUCCESS, not the directory: a
    * killed previous build leaves partial part files that would silently
    * shrink the corpus a gate claims to audit. */
  private def soakFixture(
      spark: SparkSession, sfDir: String, reps: Int): String = {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    val tag = java.lang.Long.toHexString(sfDir.hashCode.toLong & 0xffffffffL)
    val gateDir = s"/tmp/graft_soak/sfgate_${reps}x_$tag"
    if (!new java.io.File(s"$gateDir/documents.parquet/_SUCCESS").exists() ||
        !new java.io.File(s"$gateDir/embeddings.parquet/_SUCCESS").exists()) {
      Files.createDirectories(Paths.get(gateDir))
      val repCol = spark.range(0, reps).select(col("id").as("rep"))
      graft.io.Tables.documents(spark, sfDir)
        .crossJoin(repCol)
        .select((col("doc_id") + col("rep") * 1000000L).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit("_"), col("rep"))), " ").as("text"),
          col("lang"), col("source"))
        // n_chars measures the SUFFIXED text — the replica corpus must
        // be internally consistent or chars-per-token-style quality
        // logic sees a distribution the fixture never has
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$gateDir/documents.parquet")
      graft.io.Tables.embeddings(spark, sfDir)
        .crossJoin(repCol)
        .select((col("vec_id") + col("rep") * 1000000L).as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            i => element_at(col("embedding"),
              pmod(i + col("rep"), lit(64)).cast("int") + 1)).as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$gateDir/embeddings.parquet")
      for (tbl <- Seq("region", "nation", "customer", "supplier",
          "part", "orders", "lineitem", "events")) {
        val link = Paths.get(s"$gateDir/$tbl.parquet")
        if (!Files.exists(link))
          Files.createSymbolicLink(link, Paths.get(s"$sfDir/$tbl.parquet"))
      }
    }
    gateDir
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = LocalSession.builder(LocalSession.cpus(32), mirrorBench = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    lazy val jobs = {
      val r = new JobRecorder
      spark.sparkContext.addSparkListener(r)
      r
    }
    for (name <- names) name match {
      case "recall" => for (_ <- 1 to reps) recall(spark, sfDir)
      case "soakgate" => soakGate(spark, sfDir)
      case "sftrend" => sfTrend(spark, sfDir)
      case "coldjobs" => coldJobs(spark, sfDir, reps, jobs)
      case "kdetail" => for (r <- 1 to reps) kdetail(spark, sfDir, r, jobs)
      case "explain" => explain(spark, sfDir)
      case "planscan" => for (_ <- 1 to reps) planScan(spark, sfDir)
      case q => for (r <- 1 to reps)
        time(s"$q rep$r")(SparkEntry.queries(q)(spark, sfDir).count())
    }
    spark.stop()
  }

  private def time(label: String)(f: => Long): Unit = {
    val t0 = System.nanoTime()
    val n = f
    println(f"PROFILE $label%-26s ${(System.nanoTime() - t0) / 1e9}%6.2f s  rows=$n")
  }

  private def probeQueries(default: String): Seq[String] =
    sys.env.getOrElse("SPARK_GRAFT_PROBE_QUERIES", default)
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private final case class JobRec(id: Int, site: String, tasks: Int,
      start: Long, @volatile var end: Long) {
    def seconds: Double = if (end > 0) (end - start) / 1e9 else -1.0
  }

  /** The per-job log behind `coldjobs` and `kdetail`: call site (the last
    * stage's name), task count, start and end. Installed once per run and
    * cleared before each measured query. */
  private final class JobRecorder extends SparkListener {
    private val recs = new ConcurrentHashMap[Int, JobRec]()
    override def onJobStart(js: SparkListenerJobStart): Unit =
      recs.put(js.jobId, JobRec(js.jobId,
        js.stageInfos.lastOption.map(_.name).getOrElse("?").take(90),
        js.stageInfos.map(_.numTasks).sum, System.nanoTime(), 0L))
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val rec = recs.get(je.jobId)
      if (rec != null) rec.end = System.nanoTime()
    }
    def clear(): Unit = recs.clear()
    def jobs: Seq[JobRec] = recs.values.asScala.toSeq.sortBy(_.id)
  }

  private def inJobSeconds(jobs: Seq[JobRec]): Double =
    jobs.map(_.seconds max 0.0).sum

  private def recall(spark: SparkSession, sfDir: String): Unit = {
    // ANN recall gate (r14 verdict item 8): at SOAK_REPS× replicas,
    // recall@10 of BOTH approximate paths (hyperplane-LSH annTopK =
    // x15, k-means ivfTopK = x16) against brute-force cosine must
    // hold ≥ 0.9, asserted LOUDLY — the oracle rows pin exactness
    // only at fixture scale, so quantizer/bucketing drift that only
    // shows at volume is caught here. Reuses the soak's replica
    // fixture (rotated vectors: near-orthogonal across replicas, so
    // true neighbors stay within a replica and the task gets harder,
    // not degenerate, with scale).
    import graft.ext.Similarity
    import org.apache.spark.sql.functions._
    val soakDir = "/tmp/graft_soak"
    val soakReps = sys.env.getOrElse("SPARK_GRAFT_SOAK_REPS", "10").toInt
    val embPath = s"$soakDir/emb$soakReps.parquet"
    if (!new java.io.File(embPath).isDirectory) {
      val reps = spark.range(0, soakReps).select(col("id").as("rep"))
      graft.io.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
        .crossJoin(reps)
        .select((col("vec_id") + col("rep") * 1000000L).as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            i => element_at(col("embedding"),
              pmod(i + col("rep"), lit(64)).cast("int") + 1)).as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(embPath)
    }
    // Operating point: the gate measures recall in the NEAR-NEIGHBOR
    // regime (planted jittered copies, cosine ≈ 0.999) — the regime
    // x10/x15/x35 actually serve. A first cut gated DIFFUSE top-k
    // (background cosines ~0.4 between random vectors) and read
    // 0.48: that is the similarity-dependence of LSH/IVF guarantees,
    // not drift — at near-uniform cosines no sublinear method
    // separates neighbors, and the published recall curves are all
    // quoted at an operating point. Planting makes the truth set
    // findable-by-contract, so a drop below 0.9 means the BUCKETING
    // broke (the phash-slice-width bug class), which is what a gate
    // is for.
    val embBase = spark.read.parquet(embPath)
    val queries = embBase.filter(col("vec_id") % 1000000L < 4)
    // 10 deterministic ±4% element-jittered copies per query: ids far
    // above every replica/dup id, cosine-to-query ≈ 0.999 ≫ the
    // ~0.4 background, so true top-10 = the planted copies
    val planted = queries
      .crossJoin(spark.range(0, 10).select(col("id").as("j")))
      .select((col("vec_id") + lit(40000000L) + col("j")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x * (lit(1.0) + ((i * 7 + col("j") * 13) % 9 - 4) * lit(0.01)))
          .as("embedding"))
    val embN = embBase.unionByName(planted)
    val prepQ = Similarity.prepared(queries, "vec_id", "embedding")
    val prepC = Similarity.prepared(embN, "vec_id", "embedding")
    val truth = Similarity.bruteForceTopK(prepQ, prepC, 10)
      .select(col("query_id"), col("neighbor_id")).persist()
    val tCount = truth.count()
    def recall(approx: org.apache.spark.sql.DataFrame): Double =
      approx.select("query_id", "neighbor_id")
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .count().toDouble / tCount
    val annR = recall(Similarity.annTopK(queries, embN, "vec_id",
      "embedding", k = 10, numPlanes = 4, dim = 64))
    val ivfR = recall(Similarity.ivfTopK(queries, embN, "vec_id",
      "embedding", k = 10, nLists = 16, nProbe = 4))
    // the PQ rung gates at the same operating point: 64x-compressed
    // ADC scoring must still separate planted near-copies (cosine
    // ~0.999) from the ~0.4 background — a drop means the codebook
    // training or the ADC arithmetic drifted
    val ivfpqR = recall {
      val cents = Similarity.trainIvfKmeans(embN, "vec_id", "embedding",
        nLists = 16, rounds = 2)
      val cbs = Similarity.trainPqCodebooks(embN, "vec_id", "embedding",
        m = 8, ksub = 16, rounds = 2)
      Similarity.ivfpqTopK(queries, embN, "vec_id", "embedding",
        k = 10, centroids = cents, cbs = cbs, nProbe = 4)
    }
    truth.unpersist()
    println(f"RECALL ann@10=$annR%.4f ivf@10=$ivfR%.4f ivfpq@10=$ivfpqR%.4f reps=$soakReps queries=${tCount / 10}")
    require(annR >= 0.9 && ivfR >= 0.9 && ivfpqR >= 0.9,
      f"ANN recall gate FAILED at ${soakReps}x replicas: " +
        f"ann@10=$annR%.4f ivf@10=$ivfR%.4f ivfpq@10=$ivfpqR%.4f (floor 0.9)")
  }

  private def soakGate(spark: SparkSession, sfDir: String): Unit = {
    // Round-close scale soak (r16 verdict item 6): every 100 TB claim
    // (regime dispatch bounds, DV budgets, LSH band fan-out, artifact
    // cache cap) is otherwise only proven at fixture scale. This gate
    // synthesizes a SOAK_REPS× (default 10×) replica of the sf dir's
    // documents/embeddings (other tables symlinked), runs the TOP-10
    // most expensive bench queries against it end to end, runs one
    // BULK merge-on-read upsert over a replicated 10× orders log
    // table, and asserts:
    //   (a) completion at the bench heap (-Xmx24g via tools/soak.sh)
    //       — no OOM;
    //   (b) no corpus-scaling artifact (vocabulary-class Regime keys:
    //       unigram-tf / bigram-tf / tfidf-df) flipped to the
    //       driver-side collected path — at 10× those artifacts MUST
    //       dispatch distributed;
    //   (c) the bulk upsert stayed merge-on-read (positional
    //       sidecars minted, zero base files rewritten, exact rows).
    // Pair-class keys (lsh-cand/cc/boiler/dupspan) are REPORTED, not
    // gated: near-dup pair counts legitimately stay driver-small at
    // this replica scale.
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    val soakReps = sys.env.getOrElse("SPARK_GRAFT_SOAK_REPS", "10").toInt
    val tag = java.lang.Long.toHexString(sfDir.hashCode.toLong & 0xffffffffL)
    val gateDir = soakFixture(spark, sfDir, soakReps)
    graft.io.Regime.lastDecision.clear()
    val top10 = soakTop10
    for (qn <- top10)
      time(s"soakgate $qn ${soakReps}x")(
        SparkEntry.queries(qn)(spark, gateDir).count())
    // bulk merge-on-read at scale: replicated orders → one upsert
    // whose distinct-key count is far over DvMaxKeys, so the
    // positional-sidecar path MUST engage (never a driver key set,
    // never a copy-on-write rewrite)
    time(s"soakgate dv_bulk_merge ${soakReps}x") {
      val tbl = s"/tmp/graft_soak/dvmerge_${soakReps}x_$tag"
      if (Files.isDirectory(Paths.get(tbl))) {
        val walk = Files.walk(Paths.get(tbl))
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
        finally walk.close()
      }
      val reps = spark.range(0, soakReps).select(col("id").as("rep"))
      val base = graft.io.Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .crossJoin(reps)
        .select((col("o_orderkey") + col("rep") * 10000000L).as("k"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("total"))
      graft.io.LogTable.create(spark, tbl,
        base.repartitionByRange(32, col("k")), "k")
      val filesBefore = graft.io.LogTable.read(spark, tbl).inputFiles.toSet
      val nBase = graft.io.LogTable.read(spark, tbl).count()
      val inc = graft.io.LogTable.read(spark, tbl)
        .filter(col("k") % 3 === 0)
        .select(col("k"), lit("X").as("status"), col("total"))
      val nInc = inc.count()
      graft.io.LogTable.upsertDV(spark, tbl, inc, "k")
      val after = graft.io.LogTable.read(spark, tbl)
      require(graft.io.LogTable.livePosDvs(tbl, None).nonEmpty,
        "SOAKGATE: bulk upsert fell off the positional merge-on-read path")
      val filesAfter = after.inputFiles.toSet
      require(filesBefore.subsetOf(filesAfter),
        s"SOAKGATE: bulk merge rewrote ${(filesBefore -- filesAfter).size} base files")
      val nAfter = after.count()
      require(nAfter == nBase,
        s"SOAKGATE: row count drifted $nBase -> $nAfter")
      val nUpd = after.filter(col("status") === "X").count()
      require(nUpd == nInc,
        s"SOAKGATE: expected $nInc updated rows, found $nUpd")
      nAfter
    }
    // Regime audit, two directions.
    // (1) Natural scale: the artifact that PROVABLY outgrows the 2^13
    // bound at 10× is the bigram table (fixture vocabulary is 31
    // words; per-replica suffixes make ~31²×reps distinct bigram
    // hashes ≈ 9.6k > 8192) — it must have dispatched distributed.
    // Unigram/df artifacts stay genuinely driver-small on this
    // fixture (~31×reps rows) and collecting them is CORRECT
    // dispatch, so they are reported, not gated.
    val decisions = graft.io.Regime.lastDecision.asScala.toMap
    val scalingFlips = decisions.filter { case (k, v) =>
      k.startsWith("bigram-tf") && v == "collected" }
    require(scalingFlips.isEmpty,
      s"SOAKGATE: corpus-scaling artifacts collected driver-side at " +
        s"${soakReps}x: ${scalingFlips.keys.mkString(", ")}")
    val reported = decisions.map { case (k, v) => s"$k=$v" }.toSeq.sorted
    // (2) Forced bound: plant a tiny regime bound, sweep artifacts,
    // and re-run one vocabulary-backed query — at soak scale the
    // DISTRIBUTED regime must both engage (no collected decision) and
    // serve the same result (RegimeSpec proves this at fixture scale;
    // this is the 10× datapoint).
    graft.io.Regime.lastDecision.clear()
    graft.io.ArtifactCache.retainOnly(_.startsWith("import:"))
    sys.props("graft.regime.collectMaxRows") = "64"
    try {
      time(s"soakgate x43 forced-bound ${soakReps}x") {
        val n = SparkEntry.queries("x43_dsir_select")(spark, gateDir).count()
        require(n > 0, "SOAKGATE: forced-bound x43 returned no rows")
        n
      }
      val forced = graft.io.Regime.lastDecision.asScala.toMap
      val still = forced.filter(_._2 == "collected")
      require(still.isEmpty,
        s"SOAKGATE: forced bound 64 still collected driver-side: " +
          s"${still.keys.mkString(", ")}")
    } finally {
      sys.props.remove("graft.regime.collectMaxRows")
      graft.io.ArtifactCache.retainOnly(_.startsWith("import:"))
    }
    println(s"SOAKGATE PASS reps=$soakReps queries=${top10.size} " +
      s"scaling_flips=0 forced_bound_flips=0 " +
      s"decisions=[${reported.mkString(", ")}]")
  }

  private def sfTrend(spark: SparkSession, sfDir: String): Unit = {
    // Scale-TREND gate (r17 verdict item 6): correctness runs at
    // sf0.01 and the bench at sf0.1 — neither measures the GROWTH
    // CURVE, so a stage that is accidentally quadratic in corpus
    // size (an all-pairs fallback, band-bucket skew, a collect that
    // grows with the corpus) stays invisible until real scale. This
    // times each of the most expensive corpus rows COLD (artifact
    // caches dropped before every run — the bench's cold protocol)
    // at 1× and at SOAK_REPS× replicas (the soak fixture: suffixed
    // tokens / rotated vectors, so RESULT cardinality scales
    // linearly by construction) and asserts wall time grows at most
    // ~linearly:  t(N×) ≤ SLACK·N·t(1×) + FLOOR.
    // SLACK 2.0 absorbs constant-amortization and host noise; FLOOR
    // 1.5 s absorbs per-query fixed cost on sub-second rows. A
    // quadratic stage lands at ~N·t(1×) OVER the bound at N=10 —
    // loudly red. tools/sftrend.sh appends the lines to
    // tools/sftrend.log once per round.
    val soakReps = sys.env.getOrElse("SPARK_GRAFT_SOAK_REPS", "10").toInt
    val gateDir = soakFixture(spark, sfDir, soakReps)
    val slack = sys.env.getOrElse("SPARK_GRAFT_TREND_SLACK", "2.0").toDouble
    val floor = sys.env.getOrElse("SPARK_GRAFT_TREND_FLOOR", "1.5").toDouble
    val trendReps = 2
    def coldMin(qn: String, dir: String): Double =
      (1 to trendReps).map { _ =>
        spark.catalog.clearCache()
        graft.io.ArtifactCache.retainOnly(_.startsWith("import:"))
        val t0 = System.nanoTime()
        SparkEntry.queries(qn)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    val red = scala.collection.mutable.ListBuffer.empty[String]
    for (qn <- soakTop10) {
      val t1 = coldMin(qn, sfDir)
      val tN = coldMin(qn, gateDir)
      val bound = slack * soakReps * t1 + floor
      val ok = tN <= bound
      if (!ok) red += qn
      println(f"SFTREND $qn t1=$t1%.3f t$soakReps=$tN%.3f " +
        f"ratio=${tN / math.max(t1, 1e-9)}%.1f bound=$bound%.3f " +
        (if (ok) "OK" else "RED"))
    }
    graft.io.ArtifactCache.retainOnly(_.startsWith("import:"))
    require(red.isEmpty,
      s"SFTREND: superlinear growth ${sfDir}→${soakReps}x on: " +
        red.mkString(", "))
    println(s"SFTREND PASS reps=$soakReps queries=${soakTop10.size} " +
      s"slack=$slack floor=$floor")
  }

  /** Bench's cold protocol: a warmup on the sf0.001 fixture next to
    * `sfDir` first (codegen and JIT at steady state), then both cache
    * layers swept before every rep, so each rep pays its own artifact
    * builds — the bench's cold facet. */
  private def coldJobs(spark: SparkSession, sfDir: String, reps: Int,
      recorder: JobRecorder): Unit = {
    val qns = probeQueries("x45_bigram_nll")
    def sweep(): Unit = {
      spark.catalog.clearCache()
      graft.io.ArtifactCache.retainOnly(_.startsWith("import:"))
      System.gc(); Thread.sleep(150)
    }
    val warmDir = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001").toFile
    if (warmDir.isDirectory)
      for (qn <- qns)
        try noop(SparkEntry.queries(qn)(spark, warmDir.getPath))
        catch { case _: Throwable => }
    sweep()
    for (qn <- qns; rep <- 1 to reps) {
      recorder.clear()
      val tc0 = System.nanoTime()
      val df = SparkEntry.queries(qn)(spark, sfDir)
      val tCons = (System.nanoTime() - tc0) / 1e9
      val tp0 = System.nanoTime()
      df.queryExecution.executedPlan
      val tPlan = (System.nanoTime() - tp0) / 1e9
      val t0 = System.nanoTime()
      noop(df)
      val wall = (System.nanoTime() - t0) / 1e9
      val rows = recorder.jobs
      println(f"COLDJOBS $qn rep$rep cons=$tCons%.3f plan=$tPlan%.3f " +
        f"exec=$wall%.3f injob=${inJobSeconds(rows)}%.3f jobs=${rows.size}")
      rows.foreach { jr =>
        val phase =
          if (jr.start < tp0) "cons" else if (jr.start < t0) "plan" else "exec"
        val off = (jr.start - tc0) / 1e9
        println(f"  JOB ${jr.id}%3d ${jr.seconds}%7.3f s tasks=${jr.tasks}%4d $phase%-4s +$off%6.3f  ${jr.site}")
      }
      sweep()
    }
  }

  /** Every job of each query's timed body, to find which driver action
    * inside a storage verb pays. */
  private def kdetail(spark: SparkSession, sfDir: String, r: Int,
      recorder: JobRecorder): Unit =
    for (qn <- probeQueries("k13_change_feed,k17_catalog_merge,k20_catalog_update")) {
      recorder.clear()
      val fc0 = graft.io.LogTable.foldCalls.get()
      val fn0 = graft.io.LogTable.foldNanos.get()
      val t0 = System.nanoTime()
      noop(SparkEntry.queries(qn)(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"  FOLDS $qn rep$r n=${graft.io.LogTable.foldCalls.get() - fc0} " +
        f"sec=${(graft.io.LogTable.foldNanos.get() - fn0) / 1e9}%.3f")
      val rows = recorder.jobs
      println(f"KDETAIL $qn rep$r wall=$wall%.3f injob=${inJobSeconds(rows)}%.3f jobs=${rows.size}")
      rows.foreach { jr =>
        println(f"  JOB ${jr.id}%3d ${jr.seconds}%7.3f s tasks=${jr.tasks}%4d  ${jr.site}")
      }
    }

  /** Executed-plan node counts that matter for plan review: reused
    * exchanges and subtrees, aggregations, joins. */
  private def explain(spark: SparkSession, sfDir: String): Unit =
    for (qn <- probeQueries("x48_rrf_fusion")) {
      val df = SparkEntry.queries(qn)(spark, sfDir)
      noop(df)
      val plan = df.queryExecution.executedPlan.toString
      def n(p: String) = p.r.findAllIn(plan).length
      println(s"EXPLAIN $qn reusedExchange=${n("ReusedExchange")} " +
        s"reusedSubquery=${n("ReusedSubquery")} " +
        s"hashAgg=${n("HashAggregate")} smj=${n("SortMergeJoin")} " +
        s"bhj=${n("BroadcastHashJoin")} window=${n("Window")} " +
        s"exchange=${n("Exchange")}")
      if (sys.env.get("SPARK_GRAFT_EXPLAIN_FULL").contains("1"))
        println(plan)
    }

  /** Every query whose physical plan contains a quadratic join — the
    * dev-loop companion to PlanSpec's blanket gate. */
  private def planScan(spark: SparkSession, sfDir: String): Unit = {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (qn, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val cart = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin")
        if (cart || bnlj) println(s"PLANSCAN $qn cartesian=$cart bnlj=$bnlj")
      } catch { case e: Throwable =>
        println(s"PLANSCAN $qn ERROR ${e.getClass.getSimpleName}") }
    }
    println("PLANSCAN done")
  }
}
