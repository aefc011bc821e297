package graft.etl

import graft.{Run, SparkTestSession}
import graft.io.Tables
import graft.sources.WooFixtureApi
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end spec for the [[graft.Run]] CLI — the reference's
  * `python -m src.run` twin over the fixture-backed API
  * ([[graft.sources.WooFixtureApi]]): backfill loads the warehouse,
  * an idle incremental run re-enriches missing categories under
  * run.py's live gate (`run.py:158-162`), and a verbatim replay is
  * idempotent. Uses sf0.001 (47 orders after 2001-06-01). */
class RunSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val data = "/root/testdata/sf0.001"
  private val now = Some("2001-09-01T00:00:00Z")

  test("backfill → idle incremental → re-enrich → idempotent replay") {
    val wh = java.nio.file.Files.createTempDirectory("graft-run").toString

    // ---- backfill from 2001-06-01: loads orders, advances the watermark
    val s1 = Run.execute(spark, Run.Args(data = data, warehouse = wh,
      backfillStart = Some("2001-06-01"), now = now))
    assert(s1.contains("backfill complete"), s1)
    assert(s1.contains("watermark=2001-08-01 00:01:00"), s1) // max+1min
    val orders = spark.read.parquet(s"$wh/fct_orders.parquet")
    val items = spark.read.parquet(s"$wh/fct_order_items.parquet")
    assert(orders.count() > 0 && items.count() > 0)
    // the fixture catalog categorizes every part → no NULL snapshots,
    // and refunds landed on the R-flag orders
    assert(items.filter(col("category_snapshot").isNull).count() == 0)
    assert(orders.agg(sum("refund_total")).head().getDouble(0) > 0.0)

    // ---- damage one product's categories, as if it was loaded before
    // the catalog knew it (the re-enrich pass's reason to exist)
    val somePid = items.select("product_id").head().getLong(0)
    val damaged = items.withColumn("category_snapshot",
      when(col("product_id") === somePid, lit(null).cast("string"))
        .otherwise(col("category_snapshot")))
    Load.upsertParquet(spark, s"$wh/fct_order_items.parquet",
      damaged, Seq("order_id"))
    val nDamaged = spark.read.parquet(s"$wh/fct_order_items.parquet")
      .filter(col("category_snapshot").isNull).count()
    assert(nDamaged > 0)

    // ---- idle incremental run (nothing new since watermark): run.py's
    // gate re-enriches missing categories without being asked
    val s2 = Run.execute(spark, Run.Args(data = data, warehouse = wh, now = now))
    assert(s2.contains("orders=0"), s2)
    assert(s2.contains(s"reenriched=$nDamaged"), s2)
    assert(spark.read.parquet(s"$wh/fct_order_items.parquet")
      .filter(col("category_snapshot").isNull).count() == 0)

    // ---- verbatim replay: nothing to load, nothing left to re-enrich
    val s3 = Run.execute(spark, Run.Args(data = data, warehouse = wh, now = now))
    assert(s3.contains("orders=0") && s3.contains("reenriched=0"), s3)

    // ---- chunked catalog probe: blank out EVERY row's category so the
    // missing-pid set (> 100 distinct products at this sf) spans multiple
    // 100-id API chunks (reference products.py:45); the streamed
    // toLocalIterator probe must re-enrich all of them in one pass
    val all = spark.read.parquet(s"$wh/fct_order_items.parquet")
    // materialize counts BEFORE the rewrite: `all`'s file listing points
    // at the pre-upsert files, which the staged swap replaces
    val nRows = all.count()
    val nPids = all.select("product_id").filter(col("product_id").isNotNull)
      .distinct().count()
    assert(nPids > 100, s"fixture too small to span chunks: $nPids pids")
    Load.upsertParquet(spark, s"$wh/fct_order_items.parquet",
      all.withColumn("category_snapshot", lit(null).cast("string")),
      Seq("order_id"))
    val touched = Run.reEnrichCategories(spark, data, wh, forceAll = false)
    assert(touched == nRows, s"expected every row re-enriched, got $touched of $nRows")
    assert(spark.read.parquet(s"$wh/fct_order_items.parquet")
      .filter(Load.missingCategory).count() == 0)
  }

  test("--log-warehouse: the same CLI flow on log-table storage lands identical facts") {
    val whP = java.nio.file.Files.createTempDirectory("graft-run-pq").toString
    val whL = java.nio.file.Files.createTempDirectory("graft-run-log").toString
    val base = Run.Args(data = data, backfillStart = Some("2001-06-01"), now = now)

    val sP = Run.execute(spark, base.copy(warehouse = whP))
    val sL = Run.execute(spark, base.copy(warehouse = whL, logWarehouse = true))
    assert(sP.contains("backfill complete") && sL.contains("backfill complete"))
    // identical summaries (orders loaded, re-enriched, watermark)
    assert(sP == sL, s"summaries diverged:\n  parquet $sP\n  log     $sL")

    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val ordersP = spark.read.parquet(s"$whP/fct_orders.parquet")
    val ordersL = graft.io.LogTable.read(spark, s"$whL/fct_orders_log")
      .select(ordersP.columns.map(col): _*)
    assert(rowsOf(ordersP) == rowsOf(ordersL), "fct_orders diverged across backends")
    val itemsP = spark.read.parquet(s"$whP/fct_order_items.parquet")
    val itemsL = graft.io.LogTable.read(spark, s"$whL/fct_order_items_log")
      .select(itemsP.columns.map(col): _*)
    assert(rowsOf(itemsP) == rowsOf(itemsL), "fct_order_items diverged across backends")

    // the log backend kept history: the backfill's windowed walk left
    // multiple commits, and the first window's snapshot is still readable
    val v = graft.io.LogTable.version(s"$whL/fct_orders_log")
    assert(v >= 2, s"windowed backfill should commit per window, got v$v")
    assert(graft.io.LogTable.readVersion(spark, s"$whL/fct_orders_log", 1L).count() > 0)

    // idle replay on the log backend: same gate, still idempotent
    val s2 = Run.execute(spark,
      Run.Args(data = data, warehouse = whL, now = now, logWarehouse = true))
    assert(s2.contains("orders=0"), s2)
    assert(rowsOf(graft.io.LogTable.read(spark, s"$whL/fct_orders_log")
      .select(ordersP.columns.map(col): _*)) == rowsOf(ordersP),
      "idle replay changed log-backend contents")
  }

  test("--log-warehouse: execute returns only after every job it started has finished") {
    // an AQE stage job can outlive the action that submitted it (the
    // re-enrich pass's isEmpty probe); a caller's spark.stop() right after
    // execute would delete that job's shuffle files under it
    val wh = java.nio.file.Files.createTempDirectory("graft-run-jobs").toString
    val base = Run.Args(data = data, warehouse = wh, now = now, logWarehouse = true)
    for (args <- Seq(base.copy(backfillStart = Some("2001-06-01")), base)) {
      Run.execute(spark, args)
      val active = spark.sparkContext.statusTracker.getActiveJobIds()
      assert(active.isEmpty, s"jobs ${active.mkString(",")} still running after $args")
    }
  }

  test("a nightly 1-day run stays within its Spark job budget") {
    // history up to 2001-07-26 seeds the warehouse; the run is one day
    // of 4 orders (13 products, 4 refunded line items) through the
    // backfill branch, re-enrich pass included
    val wh = java.nio.file.Files.createTempDirectory("graft-run-budget").toString
    Run.processBatch(spark, data, wh, "1995-01-01 00:00:00", Some("2001-07-26 00:00:00"))
    val sc = spark.sparkContext
    val group = "graft-run-budget"
    // AQE's stage jobs run under the submitting thread's job group too
    sc.setJobGroup(group, "one nightly run")
    val summary =
      try Run.execute(spark, Run.Args(data = data, warehouse = wh,
        backfillStart = Some("2001-07-26"), now = Some("2001-07-27T00:00:00Z")))
      finally sc.clearJobGroup()
    assert(summary.contains("orders=4"), summary)
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    val running = jobs.filter(id => sc.statusTracker.getJobInfo(id)
      .exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
    assert(running.isEmpty, s"jobs ${running.mkString(",")} still running")
    // the count measured when the budget was set: a change that adds
    // jobs to the nightly path has to raise it on purpose
    val Budget = 29
    assert(jobs.length <= Budget, s"${jobs.length} Spark jobs for one nightly run")
  }

  test("graft.batch.maxIds: an over-cap batch fails loudly, for order ids and for product ids") {
    val wh = java.nio.file.Files.createTempDirectory("graft-run-cap").toString
    val before = sys.props.get("graft.batch.maxIds")
    sys.props("graft.batch.maxIds") = "2"
    try {
      // 1996-04-28 to -30: three orders, two distinct products (two of
      // the orders carry no line items)
      val tooManyOrders = intercept[IllegalStateException] {
        Run.processBatch(spark, data, wh, "1996-04-28 00:00:00", Some("1996-05-01 00:00:00"))
      }
      assert(tooManyOrders.getMessage.contains("batch carries > 2 distinct order ids"),
        tooManyOrders.getMessage)
      // 2001-06-07: one order, four distinct products
      val tooManyProducts = intercept[IllegalStateException] {
        Run.processBatch(spark, data, wh, "2001-06-07 00:00:00", Some("2001-06-08 00:00:00"))
      }
      assert(tooManyProducts.getMessage.contains("batch carries > 2 distinct product ids"),
        tooManyProducts.getMessage)
      // both failed before the load: no table was created
      assert(!graft.etl.ParquetWarehouse.exists(spark, wh, "fct_orders"))
      assert(!graft.etl.ParquetWarehouse.exists(spark, wh, "fct_order_items"))
    } finally before match {
      case Some(v) => sys.props("graft.batch.maxIds") = v
      case None => sys.props.remove("graft.batch.maxIds")
    }
  }

  /** `orderJsonsSince` without the pushdown: every order's line items
    * are aggregated, then the window joins them. */
  private def wholeTable(sinceIso: String, untilIso: Option[String]): Seq[String] = {
    val items = Tables.lineitem(spark, data).groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(sort_array(collect_list(struct(col("l_linenumber"), struct(
        col("l_partkey").as("product_id"),
        lit(0L).as("variation_id"),
        concat(lit("sku-"), col("l_partkey")).as("sku"),
        concat(lit("part-"), col("l_partkey")).as("name"),
        col("l_quantity").cast("int").as("quantity"),
        format_string("%.2f", col("l_extendedprice") / col("l_quantity")).as("price"),
        format_string("%.2f", col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("total"),
        format_string("%.2f", col("l_extendedprice")).as("subtotal"),
        lit("").as("tax_class")).as("item")))).as("lines"))
      .select(col("o_orderkey"), transform(col("lines"), _.getField("item")).as("line_items"))
    val since = Tables.orders(spark, data)
      .filter(col("o_orderdate") >= to_timestamp(lit(sinceIso)))
    untilIso.fold(since)(u => since.filter(col("o_orderdate") < to_timestamp(lit(u))))
      .join(items, Seq("o_orderkey"), "left")
      .select(to_json(struct(
        col("o_orderkey").as("id"),
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("date_created_gmt"),
        lit(null).cast("string").as("date_created"),
        col("o_orderstatus").as("status"),
        lit("USD").as("currency"),
        col("o_custkey").as("customer_id"),
        lit("0").as("discount_total"), lit("0").as("discount_tax"),
        lit("0").as("shipping_total"), lit("0").as("shipping_tax"),
        lit("0").as("cart_tax"),
        format_string("%.2f", col("o_totalprice") * 0.1).as("total_tax"),
        format_string("%.2f", col("o_totalprice")).as("total"),
        struct(lit("DE").as("country"), lit("Berlin").as("city")).as("billing"),
        coalesce(col("line_items"), array()).as("line_items"))).as("j"),
        col("o_orderdate"), col("o_orderkey"))
      .orderBy("o_orderdate", "o_orderkey")
      .collect().map(_.getString(0)).toIndexedSeq
  }

  // The fixture API's order window is pushed into its line-item side (a
  // broadcast semi-join before the collect_list); the payloads must be
  // exactly those of the whole-table form, which aggregates every line
  // item and then joins the window to it.
  test("fixture API: the window pushdown returns the whole-table payloads, in the same order") {
    val windows = Seq(
      "1-day" -> ("2001-07-26 00:00:00", Some("2001-07-27 00:00:00")),
      "30-day" -> ("2001-04-10 00:00:00", Some("2001-05-10 00:00:00")),
      "empty" -> ("2001-08-01 00:01:00", Some("2001-09-01 00:00:00")),
      "since-only" -> ("2000-06-01 00:00:00", None))
    for ((name, (since, until)) <- windows) {
      val pushed = WooFixtureApi.orderJsonsSince(spark, data, since, until)
      assert(pushed == wholeTable(since, until), s"$name window diverged")
      if (name == "empty") assert(pushed == Seq.empty)
      else assert(pushed.nonEmpty, s"$name window is empty: it pins nothing")
    }
  }

  test("fixture API: an order without line items still renders \"line_items\":[]") {
    val (since, until) = ("2001-04-10 00:00:00", "2001-05-10 00:00:00")
    val bare = Tables.orders(spark, data)
      .filter(col("o_orderdate") >= to_timestamp(lit(since)) &&
        col("o_orderdate") < to_timestamp(lit(until)))
      .join(Tables.lineitem(spark, data).select(col("l_orderkey").as("o_orderkey")),
        Seq("o_orderkey"), "left_anti")
      .count()
    assert(bare > 0, "the window holds no order without line items")
    val jsons = WooFixtureApi.orderJsonsSince(spark, data, since, Some(until))
    assert(jsons.count(_.contains("\"line_items\":[]")) == bare)
  }

  test("execute invokes onFailure with the error and rethrows (notify.py twin)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-run-fail").toString
    var seen: Option[Throwable] = None
    val thrown = intercept[Exception] {
      Run.execute(spark,
        Run.Args(data = "/nonexistent/graft-data", warehouse = wh, now = now),
        onFailure = e => seen = Some(e))
    }
    assert(seen.exists(_ eq thrown), "hook must see the same error that propagates")
  }
}
