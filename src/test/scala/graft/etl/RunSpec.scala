package graft.etl

import graft.{Run, SparkTestSession}
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
