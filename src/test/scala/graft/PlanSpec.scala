package graft

import graft.io.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the scale properties the engine promises
  * (pushdown, pruning, broadcast, top-k, codegen) must be visible in the
  * plan, not assumed. These are the checks a human would do with
  * `.explain("formatted")` — pinned as tests so a regression in plan
  * shape fails CI, not a 100 TB run. */
class PlanSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Final (post-AQE) plan: codegen wrapping only appears once the
    * adaptive plan is finalized by an action. */
  private def finalPlanOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("watermark predicate is pushed into the parquet scan (S3)") {
    val plan = planOf(SparkEntry.queries("s3_orders_since")(spark, sf))
    assert(plan.contains("PushedFilters: ["), plan.linesIterator.take(30).mkString("\n"))
    assert(plan.contains("GreaterThan(o_orderdate"), "expected o_orderdate filter pushed to scan")
  }

  test("column pruning reaches the scan: distinct-keys reads 2 columns, not 16 (A9)") {
    val plan = planOf(SparkEntry.queries("a9_distinct_keys")(spark, sf))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_partkey") && readSchema.contains("l_returnflag"))
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      s"scan reads more than it needs: $readSchema")
  }

  test("dimension joins broadcast; no shuffle of the fact for top-products (A6/J1)") {
    val plan = planOf(SparkEntry.queries("a6_top_products")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "part dim should broadcast")
    assert(!plan.contains("SortMergeJoin"), "fact must not sort-merge against a dim")
  }

  test("ORDER BY + LIMIT plans TakeOrderedAndProject, not a total sort (O3)") {
    val plan = planOf(SparkEntry.queries("a6_top_products")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("hash aggregation is partial+final (map-side combine) for the KPI query (A3)") {
    val plan = planOf(SparkEntry.queries("a3_kpis")(spark, sf))
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "expected partial and final HashAggregate")
  }

  // In final-plan toString, whole-stage codegen shows as the `*(n)`
  // stage marker on each operator inside a codegen stage.
  private val codegenMarker = """\*\(\d+\) """.r

  test("scan-side pipelines run inside WholeStageCodegen") {
    val plan = finalPlanOf(
      Tables.lineitem(spark, sf)
        .filter(col("l_returnflag") === "R")
        .groupBy("l_partkey").agg(sum("l_quantity")))
    assert(codegenMarker.findFirstIn(plan).isDefined, plan)
    assert(codegenMarker.pattern.matcher(plan).results().count() >= 1)
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(plan).isDefined,
      "partial aggregate should be inside a codegen stage")
  }

  test("native LongDotProduct participates in codegen (no fallback to interpreted)") {
    val prep = graft.ext.Similarity.prepared(
      Tables.embeddings(spark, sf), "vec_id", "embedding")
    val df = prep.select(graft.ext.Similarity.dotQ(col("qv"), col("qv")).as("d"))
    val plan = finalPlanOf(df)
    // the long_dot projection itself must carry the codegen stage marker
    assert("""\*\(\d+\) Project \[long_dot""".r.findFirstIn(plan).isDefined, plan)
    // and it evaluates: self-dot of a quantized unit-ish vector is positive
    assert(df.agg(min("d")).head().getLong(0) > 0L)
  }

  test("as-of and range joins never plan a nested-loop join (the operators' raison d'être)") {
    for (q <- Seq("j7_asof_join", "j8_range_join")) {
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$q degenerated to a quadratic join:\n${plan.linesIterator.take(25).mkString("\n")}")
    }
  }

  test("arrival-replay backfill: band equi-joins only, never a quadratic join (X38)") {
    // the closed form's ONE corpus pass + K set-algebra rounds must stay
    // equi/semi/anti joins — a cartesian anywhere turns the 100 TB
    // backfill into corpus x corpus
    val plan = planOf(SparkEntry.queries("x38_ingest_dedup")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"x38 degenerated to a quadratic join:\n${plan.linesIterator.take(25).mkString("\n")}")
  }

  test("wide-radius simhash pairs stay a slice-key equi-join (X34)") {
    // radius 5 on the 60-bit hash: 6 pigeonhole slices, candidates from
    // the (slice, sv) equi-join — the old 32-bit code cross-joined at
    // any radius >= 4, which this gate keeps dead
    val plan = planOf(SparkEntry.queries("x34_simhash60")(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"x34 degenerated to an all-pairs join:\n${plan.linesIterator.take(25).mkString("\n")}")
    assert(plan.contains("simhash60"), "native Simhash60 expression missing from the plan")
  }

  test("SemDeDup: map-side cluster assignment, within-cluster equi-join only (X35)") {
    val plan = planOf(SparkEntry.queries("x35_semdedup")(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"x35 degenerated to an all-pairs join:\n${plan.linesIterator.take(25).mkString("\n")}")
    assert(plan.contains("ivf_nearest_lists"), "native assignment expression missing")
    assert(plan.contains("list_id"), "pair join no longer keyed on list_id")
  }

  test("blocked embedding near-dup plans an equi-join, never a cartesian (X10)") {
    val plan = planOf(SparkEntry.queries("x10_embedding_neardup")(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"x10 degenerated to an all-pairs join:\n${plan.linesIterator.take(25).mkString("\n")}")
  }

  test("ANN top-k via LSH plans an equi-join on bucket, never a cartesian (X15)") {
    val plan = planOf(SparkEntry.queries("x15_ann_topk")(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"x15 degenerated to an all-pairs join:\n${plan.linesIterator.take(25).mkString("\n")}")
  }

  test("IVF top-k: map-side centroid assignment, zero nested-loop joins (X16)") {
    // since round 6 the assignment is the native IvfNearestLists
    // expression — centroids ride inside the expression, so NO join of
    // any kind exists for it; the candidate join is an equi-join on
    // list_id and the query side broadcasts (bounded by the call site)
    val plan = planOf(SparkEntry.queries("x16_ivf_topk")(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"x16 planned a cartesian:\n${plan.linesIterator.take(25).mkString("\n")}")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "centroid assignment regressed from the native expression to a join")
    assert(plan.contains("ivf_nearest_lists"), "native assignment expression missing")
    assert(plan.contains("list_id"), "candidate join no longer keyed on list_id")
    assert(plan.contains("BroadcastHashJoin"), "bounded query side no longer broadcast")
  }

  test("IVFPQ top-k: codes in the lists, ADC scoring, zero nested-loop joins (X46)") {
    // the 100 TB point of IVFPQ: the candidate join carries PQ CODES
    // (m ints) and per-query ADC tables — never full vectors — and the
    // assignment/encode/table expressions are all map-side natives; the
    // only join is the list_id equi-join with the bounded query side
    // broadcast
    val plan = planOf(SparkEntry.queries("x46_ivfpq_topk")(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"x46 planned a cartesian:\n${plan.linesIterator.take(25).mkString("\n")}")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "PQ scoring regressed from native expressions to a join")
    assert(plan.contains("pq_encode"), "native PQ encode expression missing")
    assert(plan.contains("pq_dist_table"), "native ADC table expression missing")
    assert(plan.contains("pq_adc_sum"), "native ADC sum expression missing")
    assert(plan.contains("BroadcastHashJoin"), "bounded query side no longer broadcast")
  }

  test("bloom prefilter: literal filter bits, no round-robin exchange (X29)") {
    // the 512-byte filter ships as a LITERAL in the probe projection
    // (runtime-filter shape) — the only broadcast is the exact-count
    // part-key join — and with the integer LCG family the per-row probe
    // is too cheap to justify fanOut's exchange (round-6 A/B)
    val plan = planOf(SparkEntry.queries("x29_bloom_prefilter")(spark, sf))
    assert(!plan.contains("RoundRobinPartitioning"),
      s"x29 re-grew a fanOut exchange:\n${plan.linesIterator.take(20).mkString("\n")}")
    assert(plan.linesIterator.count(_.contains("BroadcastExchange")) == 1,
      "expected exactly one broadcast (the exact-count part keys)")
  }

  test("repetition stats: single pass, no gram explode, no shuffle before the sort (X17)") {
    val plan = planOf(SparkEntry.queries("x17_repetition")(spark, sf))
    assert(plan.contains("shingle_dup_stats"), "native shingle stats expression missing")
    assert(!plan.contains("Generate"),
      s"x17 re-grew a gram explode:\n${plan.linesIterator.take(20).mkString("\n")}")
  }

  test("survivor selection broadcasts the collected-regime cluster map by STATS, not hints (X20)") {
    // round 7 removed x20's explicit broadcast hint (an unbounded map
    // must never be hinted): in the default regime the cluster map is a
    // LocalRelation whose accurate stats make Catalyst broadcast it
    // unaided — if the auto-broadcast ever stops (threshold change,
    // stats regression), the fact side would silently sort-merge
    val plan = planOf(SparkEntry.queries("x20_dedup_survivors")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"cluster map no longer auto-broadcast:\n${plan.linesIterator.take(20).mkString("\n")}")
  }

  test("minhash LSH candidates serve from the session index; the report is a local scan (X6)") {
    val plan = planOf(SparkEntry.queries("x6_minhash_lsh")(spark, sf))
    assert(plan.contains("LocalTableScan") || plan.contains("Scan ExistingRDD"),
      s"x6 rebuilt the candidate pipeline instead of serving the index:\n" +
        plan.linesIterator.take(20).mkString("\n"))
  }

  test("contamination broadcasts the benchmark gram set; the corpus side never shuffles pre-join (X22)") {
    val plan = planOf(SparkEntry.queries("x22_contamination")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark set no longer broadcast:\n${plan.linesIterator.take(25).mkString("\n")}")
  }

  test("line dedup's collected regime rebuilds row-locally: no join, no window, no text reshuffle (X40)") {
    graft.io.ArtifactCache.clear()
    val plan = planOf(SparkEntry.queries("x40_line_dedup")(spark, sf))
    assert(!plan.contains("Join"),
      s"collected-regime x40 re-grew a join:\n${plan.linesIterator.take(25).mkString("\n")}")
    assert(!plan.contains("Window"), "x40 must not sort-reassemble in the collected regime")
    graft.io.ArtifactCache.clear()
  }

  test("span scrub's collected regime rebuilds row-locally: no join, no window (X44)") {
    graft.io.ArtifactCache.clear()
    val plan = planOf(SparkEntry.queries("x44_dup_span_scrub")(spark, sf))
    assert(!plan.contains("Join"),
      s"collected-regime x44 re-grew a join:\n${plan.linesIterator.take(25).mkString("\n")}")
    assert(!plan.contains("Window"),
      "x44 must rebuild by positional coverage, never a sort-reassembly window")
    graft.io.ArtifactCache.clear()
  }

  test("k21 stats aggregation plans ZERO data files — the manifest is the whole read (K21)") {
    val df = SparkEntry.queries("k21_stats_agg")(spark, sf)
    assert(df.collect().length == 1)
    assert(graft.sources.v2.LogTableScan.lastPlannedFiles.get() == 0,
      s"k21 planned ${graft.sources.v2.LogTableScan.lastPlannedFiles.get()} " +
        "data files — COUNT/MIN/MAX must answer from manifest stats alone")
    val plan = planOf(df)
    assert(plan.contains("agg=[count(*)"),
      s"k21 scan does not report the pushed aggregation:\n${
        plan.linesIterator.take(25).mkString("\n")}")
  }

  test("unigram NLL joins the vocabulary as a broadcast under the bound (X41)") {
    graft.io.ArtifactCache.clear()
    val plan = planOf(SparkEntry.queries("x41_unigram_nll")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"x41 vocabulary no longer broadcast:\n${plan.linesIterator.take(25).mkString("\n")}")
    assert(!plan.contains("SortMergeJoin"),
      "collected-regime x41 must not shuffle the token stream for the vocab join")
    graft.io.ArtifactCache.clear()
  }

  test("decontamination gate: benchmark membership stays a broadcast join (X42)") {
    graft.io.ArtifactCache.clear()
    val plan = planOf(SparkEntry.queries("x42_decontaminate")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"x42 benchmark set no longer broadcast:\n${plan.linesIterator.take(25).mkString("\n")}")
    graft.io.ArtifactCache.clear()
  }

  test("DSIR selection broadcasts both unigram tables and plans top-k, not a global sort (X43)") {
    graft.io.ArtifactCache.clear()
    val plan = planOf(SparkEntry.queries("x43_dsir_select")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"x43 unigram tables no longer broadcast:\n${plan.linesIterator.take(25).mkString("\n")}")
    assert(!plan.contains("SortMergeJoin"),
      "collected-regime x43 must not shuffle the token stream for the vocab joins")
    assert(plan.contains("TakeOrderedAndProject"),
      "x43's top-50 must be per-partition heads, not a global sort")
    graft.io.ArtifactCache.clear()
  }

  test("distributed prefix sum never plans a single-partition exchange (X28)") {
    // the whole point of the two-phase scan: no Window over
    // Exchange SinglePartition (the global-window scale cliff)
    val plan = planOf(SparkEntry.queries("x28_token_batches")(spark, sf))
    assert(!plan.contains("Exchange SinglePartition"),
      s"x28 degenerated to a global single-partition stage:\n${plan.linesIterator.take(30).mkString("\n")}")
    assert(plan.contains("Window"), "expected the per-partition cumsum window")
  }

  test("BLANKET: no query in the suite plans a CartesianProduct; nested-loops only on the allowlist") {
    // the only sanctioned BroadcastNestedLoopJoin: x9's brute-force
    // baseline (corpus streamed against a broadcast handful of query
    // vectors with a non-equi self-exclusion predicate). x16 lost its
    // BNLJs to the native IvfNearestLists expression and x29/x21 carry
    // their tiny artifacts as literals since round 6 — if any of them
    // re-grow a nested loop, this gate must fail, so they are NOT
    // allowlisted anymore.
    val bnljAllowed = Set("x9_cosine_topk")
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = planOf(fn(spark, sf))
      val cart = plan.contains("CartesianProduct")
      val badBnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)
      if (cart || badBnlj) Some(s"$name cartesian=$cart bnlj=$badBnlj") else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("paged scan serves through the DSv2 connector, date pushdown pruning pages (S1)") {
    val plan = planOf(SparkEntry.queries("s1_paged_scan")(spark, sf))
    assert(plan.contains("PagedOrdersScan"),
      s"s1 must scan the DSv2 connector:\n${plan.linesIterator.take(20).mkString("\n")}")
    // the date predicate reached the source (page-range pruning), and no
    // driver-built local relation feeds the query
    assert(plan.contains("pushed=") && plan.contains("order_date"),
      "date filter not pushed to the paged source")
    assert(!plan.contains("LocalTableScan"),
      "paged rows entered through a driver-collected local relation")
  }

  test("per-group top-k pre-prunes with a salted window before the 3-value flag window (W1)") {
    // l_returnflag has 3 distinct values: a direct partitionBy(flag)
    // window would sort the ENTIRE (flag, partkey) aggregate in ≤3
    // tasks. The plan must show the salted local top-k first — a Window
    // partitioned on (flag, salt) — with only rank-filtered survivors
    // reaching the flag-only window.
    val plan = planOf(SparkEntry.queries("w1_pergroup_topk")(spark, sf))
    val lines = plan.linesIterator.toVector
    assert("\\bWindow\\b".r.findAllIn(plan).size == 2,
      s"expected exactly two Window operators (local salted + global):\n$plan")
    val saltedExchange = lines.indexWhere(l =>
      l.contains("Exchange hashpartitioning") && l.contains("salt"))
    assert(saltedExchange >= 0, s"no (flag, salt) exchange for the local top-k:\n$plan")
    // tree prints root-first: the flag-only window sits ABOVE the
    // rnk_local filter, which sits ABOVE the salted exchange — i.e. the
    // full aggregate never feeds the 3-partition window directly
    val flagWindow = lines.indexWhere(l =>
      l.contains("Window") && l.contains("l_returnflag") && !l.contains("salt"))
    val localFilter = lines.indexWhere(l => l.contains("Filter") && l.contains("rnk_local"))
    assert(flagWindow >= 0 && localFilter >= 0 && flagWindow < localFilter &&
      localFilter < saltedExchange,
      s"flag window must consume only the salted-prune survivors " +
        s"(flagWindow=$flagWindow filter=$localFilter saltedExchange=$saltedExchange):\n$plan")
  }

  test("exact dedup shuffles the 64-char hash, never the document text") {
    val docs = Tables.documents(spark, sf)
    val plan = planOf(graft.ext.Dedup.exactDups(docs, "doc_id", "text"))
    val exchangeLines = plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text"), s"document text crosses the wire:\n$exchangeLines")
  }

  /** Run `f` and return what Spark's hint-error logger warned meanwhile
    * (the logger is held at WARN for the call, whatever the root level). */
  private def hintWarnings[A](f: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    import scala.jdk.CollectionConverters._
    val name = "org.apache.spark.sql.catalyst.analysis.HintErrorLogger"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("hint-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val levelBefore = ctx.getConfiguration.getLoggerConfig(name).getLevel
    Configurator.setLevel(name, Level.WARN)
    ctx.getConfiguration.getLoggerConfig(name).addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    try { val a = f; (a, seen.asScala.toSeq) }
    finally {
      ctx.getConfiguration.getLoggerConfig(name).removeAppender(capture.getName)
      Configurator.setLevel(name, levelBefore)
      capture.stop()
    }
  }

  test("nightly batch: the facts plan no shuffle, and both refund joins broadcast by their hint (ETL)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    object Nodes extends AdaptiveSparkPlanHelper
    // the capture sees a hint that reaches no join
    val (_, control) = hintWarnings(broadcast(spark.range(1).toDF()).select("id").collect())
    assert(control.exists(_.contains("not part of a join relation")), control)

    // a driver-held batch, as processBatch parses it: three months of
    // orders, some of them refunded
    val raw = graft.sources.WooFixtureApi.parse(spark, graft.model.WooSchemas.rawOrder,
      graft.sources.WooFixtureApi.orderJsonsSince(spark, sf, "2001-06-01 00:00:00",
        Some("2001-09-01 00:00:00")))
    val (results, warnings) = hintWarnings {
      val facts = Run.batchFacts(spark, raw, sf).get
      Seq(facts.orders, facts.items).map(df => (df.collect(), df.queryExecution.executedPlan))
    }
    assert(warnings.isEmpty, warnings.mkString("\n"))
    val Seq((orderRows, ordersPlan), (_, itemsPlan)) = results
    assert(orderRows.exists(_.getAs[Double]("refund_total") > 0),
      "the window carries no refund: the refund joins went unexercised")
    for (p <- Seq(ordersPlan, itemsPlan))
      assert(Nodes.collect(p) { case e: ShuffleExchangeExec => e }.isEmpty, p.toString)
    def refundJoins(p: org.apache.spark.sql.execution.SparkPlan, refundCol: String) =
      Nodes.collect(p) { case j if j.children.size == 2 &&
        j.children(1).output.exists(_.name == refundCol) => j }
    for ((p, refundCol) <- Seq(ordersPlan -> "refund_total", itemsPlan -> "_roid")) {
      val joins = refundJoins(p, refundCol)
      assert(joins.nonEmpty && joins.forall(_.isInstanceOf[BroadcastHashJoinExec]), p.toString)
    }
  }

  test("n-gram NLL exchanges carry 60-bit hashes, never term strings (X41/X45)") {
    // the r14→r15 fix: the vocab group/join keys hashed to longs (the
    // x44 discipline) — a regression back to string `term` keys would
    // show as the term/text columns riding an Exchange
    for (q <- Seq("x41_unigram_nll", "x45_bigram_nll")) {
      graft.io.ArtifactCache.clear()
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      val exchangeLines = plan.linesIterator
        .filter(_.contains("Exchange")).mkString("\n")
      assert(!exchangeLines.contains("term") && !exchangeLines.contains("text"),
        s"$q shuffles n-gram strings again:\n$exchangeLines")
      graft.io.ArtifactCache.clear()
    }
  }
}
