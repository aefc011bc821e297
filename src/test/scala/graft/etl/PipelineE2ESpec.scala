package graft.etl

import graft.SparkTestSession
import graft.model.WooSchemas
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline test (SURVEY.md §5.4): raw order JSON →
  * normalize → category enrich → refund application → keyed upsert into
  * a parquet warehouse → dashboard aggregates, then an OVERLAPPING
  * re-sync batch (one order updated, one line item removed) re-runs the
  * whole path and must land idempotently — the reference's core
  * incremental contract (`src/run.py:128-162`). */
class PipelineE2ESpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def rawOrders(jsons: String*) =
    SparkTestSession.readJson(WooSchemas.rawOrder, jsons: _*)
  private def rawProducts(jsons: String*) =
    SparkTestSession.readJson(WooSchemas.rawProduct, jsons: _*)
  private def rawRefunds(jsons: String*) =
    SparkTestSession.readJson(WooSchemas.rawRefund, jsons: _*)

  private def li(pid: Long, qty: Int, total: String) =
    s"""{"product_id": $pid, "variation_id": 0, "sku": "s$pid", "name": "p$pid",
        "quantity": $qty, "price": "10.0", "total": "$total", "subtotal": "$total",
        "tax_class": ""}"""

  private def order(id: Long, total: String, tax: String, items: String*) =
    s"""{"id": $id, "date_created_gmt": "2024-03-0${id}T10:00:00", "date_created": null,
        "status": "completed", "currency": "EUR", "customer_id": ${id % 3},
        "discount_total": "0", "discount_tax": "0", "shipping_total": "5.0",
        "shipping_tax": "0", "cart_tax": "0", "total_tax": "$tax", "total": "$total",
        "billing": {"country": "DE", "city": "Berlin"},
        "line_items": ${items.mkString("[", ",", "]")}}"""

  private val products = Seq(
    """{"id": 1, "categories": [{"name": "Audio"}, {"name": "Pro"}]}""",
    """{"id": 2, "categories": []}""",
    """{"id": 3, "categories": [{"name": "Video"}]}""")

  private def runBatch(dir: String, orders: org.apache.spark.sql.DataFrame,
                       refundsJson: Seq[String]): Unit = {
    val (o, items) = Normalize(orders)
    val enriched = Enrich.itemsWithCategories(items, rawProducts(products: _*))
    val (oFinal, iFinal) = graft.Run.applyBatchRefunds(
      o, enriched, rawRefunds(refundsJson: _*))
    Load.upsertParquet(spark, s"$dir/fct_orders.parquet",
      Load.alignColumns(oFinal, WooSchemas.fctOrders), Seq("order_id"))
    // items replaced per order_id — the reference's removed-line-item rule
    Load.upsertParquet(spark, s"$dir/fct_order_items.parquet", iFinal, Seq("order_id"))
  }

  test("idle incremental run re-enriches missing categories in the warehouse (flow branch + K5)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e-flow").toString
    // product 2 has no categories → category_snapshot lands NULL
    runBatch(dir, rawOrders(
      order(1, "30.0", "3.0", li(1, 2, "20.0"), li(2, 1, "8.0"))), Seq.empty)
    val before = spark.read.parquet(s"$dir/fct_order_items.parquet")
    assert(before.filter(col("product_id") === 2)
      .head().getAs[String]("category_snapshot") == null)

    val st = new StateStore(java.nio.file.Paths.get(dir, "state.json"))
    st.set("2024-04-01 00:00:00")
    // the catalog now DOES know product 2's category — an idle run must
    // pick it up via the always-on missing-category re-enrich
    val mapping = Seq((2L, "Late | Cat")).toDF("product_id", "category_snapshot")
    val run = Incremental.runFlow(st)(
      _ => (0L, None), // nothing new since the cursor
      forceAll => {
        val items = spark.read.parquet(s"$dir/fct_order_items.parquet")
        val updated = Load.updateFromMap(items, mapping, force = forceAll)
        val touched = updated.join(items.withColumnRenamed(
          "category_snapshot", "old_cat"), Seq("order_id", "product_id"))
          .filter(!(col("category_snapshot") <=> col("old_cat"))).count()
        Load.upsertParquet(spark, s"$dir/fct_order_items.parquet",
          updated, Seq("order_id"))
        touched
      })
    assert(run == Incremental.FlowRun(0L, Some((false, 1L))))
    assert(st.sinceIso() == "2024-04-01 00:00:00") // cursor untouched on idle

    val after = spark.read.parquet(s"$dir/fct_order_items.parquet")
    assert(after.filter(col("product_id") === 2)
      .head().getAs[String]("category_snapshot") == "Late | Cat")
    // the already-enriched row must be untouched (missing-only mode)
    assert(after.filter(col("product_id") === 1)
      .head().getAs[String]("category_snapshot") == "Audio | Pro")
  }

  test("full path: normalize → enrich → refunds → upsert → dashboard; overlapping re-sync is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val refunds = Seq(
      s"""{"order_id": 2, "amount": "8.0", "line_items": [
           {"product_id": 2, "variation_id": 0, "quantity": 1, "total": "8.0"}]}""")

    // ---- batch 1: orders 1..3
    runBatch(dir, rawOrders(
      order(1, "30.0", "3.0", li(1, 2, "20.0")),
      order(2, "40.0", "4.0", li(2, 1, "8.0"), li(3, 2, "24.0")),
      order(3, "10.0", "1.0", li(3, 1, "9.0"))), refunds)

    val o1 = spark.read.parquet(s"$dir/fct_orders.parquet")
    val i1 = spark.read.parquet(s"$dir/fct_order_items.parquet")
    assert(o1.count() == 3 && i1.count() == 4)
    // refund applied: order 2 net_after = (40−4) − 8 = 28
    val ord2 = o1.filter(col("order_id") === 2).head()
    assert(ord2.getAs[Double]("refund_total") == 8.0)
    assert(ord2.getAs[Double]("net_after_refunds") == 28.0)
    // category enrich: pid 1 → "Audio | Pro", pid 2 (empty cats) → NULL
    val cats = i1.select("product_id", "category_snapshot")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(cats(1L).contains("Audio | Pro") && cats(2L).isEmpty)

    // ---- batch 2 (overlap): order 2 re-synced with line item 2 REMOVED
    // and a new total; order 4 is new; same refund payload re-fetched
    runBatch(dir, rawOrders(
      order(2, "28.0", "2.8", li(3, 2, "24.0")),
      order(4, "50.0", "5.0", li(1, 1, "45.0"))), refunds)

    val o2 = spark.read.parquet(s"$dir/fct_orders.parquet")
    val i2 = spark.read.parquet(s"$dir/fct_order_items.parquet")
    assert(o2.count() == 4)
    // order 2's removed line item is GONE (replace-all-per-order), 1 remains
    assert(i2.filter(col("order_id") === 2).count() == 1)
    assert(i2.count() == 1 + 1 + 1 + 1) // orders 1,2,3,4
    // updated totals took effect
    assert(o2.filter(col("order_id") === 2).head().getAs[Double]("gross_total") == 28.0)

    // ---- batch 2 replayed verbatim: warehouse must not change (idempotent)
    val before = (o2.collect().toSet, i2.collect().toSet)
    runBatch(dir, rawOrders(
      order(2, "28.0", "2.8", li(3, 2, "24.0")),
      order(4, "50.0", "5.0", li(1, 1, "45.0"))), refunds)
    val o3 = spark.read.parquet(s"$dir/fct_orders.parquet")
    val i3 = spark.read.parquet(s"$dir/fct_order_items.parquet")
    assert((o3.collect().toSet, i3.collect().toSet) == before)

    // ---- dashboard aggregates run over the warehouse
    val kpis = o3.agg(
      count(lit(1)).as("orders"),
      sum("net_total").as("net"),
      sum("refund_total").as("refunds")).head()
    assert(kpis.getLong(0) == 4L)
    assert(kpis.getAs[Double]("refunds") == 8.0)
    val daily = o3.groupBy(to_date(col("order_date")).as("d"))
      .agg(count(lit(1)).as("n")).orderBy("d").collect()
    assert(daily.map(_.getLong(1)).sum == 4L)
  }
}
