package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Category enrichment + refund application — the reference's dict-lookup
  * joins re-expressed as broadcast/equi joins (SURVEY.md §2.4 J1-J3).
  */
object Enrich {

  /** P9 — category snapshot string: join category names with " | ",
    * NULL if the product has none (reference `src/etl/transform/enrich.py:12-19`).
    * Pure built-ins (filter + transform + array_join), no UDF. */
  private def catSnapshot = {
    val names = filter(col("categories"), c => c.getField("name").isNotNull)
    when(size(names) > 0, array_join(transform(names, _.getField("name")), " | "))
  }

  /** The (product_id, category_snapshot) mapping frame from raw product
    * payloads — the dimension side of J1 and of K5's join-driven UPDATE
    * (run.py's re-enrich pass). */
  def categoryMap(rawProducts: DataFrame): DataFrame =
    // ONE row per product id, whatever the payload carries: the
    // reference's dict build dedups keys implicitly, but the join
    // equivalent would MULTIPLY every matching item fact row if a paged
    // fetch drifted (a product repeated across pages mid-pagination).
    // max() is the deterministic pick — duplicate payloads are normally
    // identical, and when they differ no arrival order exists in a
    // distributed read anyway.
    rawProducts.select(
      col("id").as("product_id"),
      catSnapshot.as("category_snapshot"))
      .groupBy("product_id")
      .agg(max(col("category_snapshot")).as("category_snapshot"))

  /** J1 — items ⟕ products on product_id, producing category_snapshot.
    * The products side is a per-batch dimension (≤ hundreds of rows in the
    * reference, `products.py:45`): broadcast hash join, no shuffle of the
    * fact (reference `enrich.py:5-23`). */
  def itemsWithCategories(items: DataFrame, rawProducts: DataFrame): DataFrame = {
    val dim = categoryMap(rawProducts)
    items
      .drop("category_snapshot")
      .join(broadcast(dim), Seq("product_id"), "left")
      .select(items.columns.map {
        case "category_snapshot" => col("category_snapshot")
        case c                   => items(c)
      }.toIndexedSeq: _*)
  }

  /** S5/A1 — per-order refund totals from raw refund payloads: Σ amount,
    * tolerant cast (reference `src/etl/extract/refunds.py:30-38`). */
  def refundOrderTotals(rawRefunds: DataFrame): DataFrame =
    rawRefunds
      .groupBy("order_id")
      .agg(sum(Normalize.f(col("amount"))).as("refund_total"))

  /** S5/A2 — per-(order, product, variation) refunded qty/total:
    * explode refund line_items then aggregate, with `int(x or 0)` key
    * normalization (reference `refunds.py:41-54`). */
  def refundItemTotals(rawRefunds: DataFrame): DataFrame =
    rawRefunds
      .select(col("order_id"), explode(coalesce(col("line_items"), array())).as("li"))
      .select(
        col("order_id"),
        Normalize.i(col("li.product_id")).as("product_id"),
        Normalize.i(col("li.variation_id")).as("variation_id"),
        Normalize.i(col("li.quantity")).as("quantity"),
        Normalize.f(col("li.total")).as("total"))
      .groupBy("order_id", "product_id", "variation_id")
      .agg(
        sum(col("quantity")).cast("int").as("refunded_quantity"),
        sum(col("total")).as("refunded_total"))

  /** J2 + P5 — orders ⟕ refund totals; missing → 0.0;
    * net_after_refunds = net_total − refund_total
    * (reference `enrich.py:43-51`). Refund volume scales with order volume,
    * so no broadcast hint here — AQE broadcasts when the aggregated side
    * is small, shuffles on order_id otherwise. A caller that knows its
    * refunds are one small batch's hints them at its call site, as
    * `graft.Run.applyBatchRefunds` does for both refund joins. */
  def applyOrderRefunds(orders: DataFrame, refundTotals: DataFrame): DataFrame =
    orders
      .drop("refund_total", "net_after_refunds")
      .join(refundTotals, Seq("order_id"), "left")
      .withColumn("refund_total", coalesce(col("refund_total"), lit(0.0)))
      .withColumn("net_after_refunds", col("net_total") - col("refund_total"))
      .select(orders.columns.map {
        case c @ ("refund_total" | "net_after_refunds") => col(c)
        case c => orders(c)
      }.toIndexedSeq: _*)

  /** J3 — items ⟕ refund items on the composite key
    * (order_id, product_id, variation_id) with NULL keys normalized to 0 on
    * BOTH sides — otherwise NULL keys silently never match
    * (reference `enrich.py:54-71`, `int(x or 0)` at 58,64). */
  def applyItemRefunds(items: DataFrame, refundItems: DataFrame): DataFrame = {
    val it = items.drop("refunded_quantity", "refunded_total")
      .withColumn("_pid", coalesce(col("product_id"), lit(0L)))
      .withColumn("_vid", coalesce(col("variation_id"), lit(0L)))
    val rf = refundItems.select(
      col("order_id").as("_roid"),
      coalesce(col("product_id"), lit(0L)).as("_rpid"),
      coalesce(col("variation_id"), lit(0L)).as("_rvid"),
      col("refunded_quantity"),
      col("refunded_total"))
    it.join(
        rf,
        col("order_id") === col("_roid") && col("_pid") === col("_rpid") &&
          col("_vid") === col("_rvid"),
        "left")
      .withColumn("refunded_quantity", coalesce(col("refunded_quantity"), lit(0)))
      .withColumn("refunded_total", coalesce(col("refunded_total"), lit(0.0)))
      .select(items.columns.map {
        case c @ ("refunded_quantity" | "refunded_total") => col(c)
        case c => items(c)
      }.toIndexedSeq: _*)
  }
}
