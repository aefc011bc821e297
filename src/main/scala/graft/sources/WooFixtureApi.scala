package graft.sources

import graft.io.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-backed WooCommerce API stand-in for [[graft.Run]]: serves the
  * three payload shapes the reference client fetches — raw order JSON
  * (`GET /orders?after=…&page=…`), product JSON by id batch
  * (`GET /products?include=…`), and per-order refund JSON
  * (`GET /orders/{id}/refunds`) — synthesized deterministically from the
  * driver-generated star schema (TESTDATA.md):
  *
  *   - order = `orders` row ⋈ its collected `lineitem` rows;
  *   - product categories = `part`'s (p_brand, p_type) pair;
  *   - refunds = the R-returnflag line items of an order, at half their
  *     quantity and total (a deterministic partial refund).
  *
  * Like the reference API the page server is driver-side (see
  * [[PagedSource]] for why, and `sources.v2.PagedOrdersProvider` for the
  * partitioned production shape); the JSON is assembled DISTRIBUTED via
  * `to_json(struct(…))` and only the final page buffers are collected.
  * Every query is bounded by its request: an order window aggregates the
  * line items of the window's orders only, and id batches semi-join
  * their tables. [[parse]] hands a payload batch back as ONE partition —
  * it already sits on the driver, so its consumers plan no shuffle.
  */
object WooFixtureApi {

  /** All raw-order JSON since the watermark (and, for a backfill window,
    * strictly before `untilIso`), in API order — slice this into pages
    * for [[PagedSource.fetchAll]]. */
  def orderJsonsSince(spark: SparkSession, dir: String, sinceIso: String,
      untilIso: Option[String] = None): Seq[String] = {
    val since = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit(sinceIso)))
    val window =
      untilIso.fold(since)(u => since.filter(col("o_orderdate") < to_timestamp(lit(u))))
    // only the window's line items reach the aggregate: a 1-day window
    // carries a handful of orders, the lineitem table all of history
    // (an empty window's broadcast side lets AQE skip the lineitem scan).
    // An order's items are listed by line number, then content: the
    // collect_list order alone would be the aggregate's arrival order,
    // which changes with the number of orders aggregated beside it.
    val items = Tables.lineitem(spark, dir)
      .join(broadcast(window.select(col("o_orderkey").as("l_orderkey"))),
        Seq("l_orderkey"), "left_semi")
      .groupBy(col("l_orderkey").as("o_orderkey"))
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
    window
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

  /** Raw-product JSON for an id batch (reference `products.py:40-52`
    * fetches in chunks of 100; the chunking lives in the caller). */
  def productJsonsByIds(spark: SparkSession, dir: String, ids: Seq[Long]): Seq[String] = {
    if (ids.isEmpty) return Seq.empty
    import spark.implicits._
    val want = ids.toDF("p_partkey")
    Tables.part(spark, dir)
      .join(broadcast(want), Seq("p_partkey"), "left_semi")
      .select(to_json(struct(
        col("p_partkey").as("id"),
        array(struct(col("p_brand").as("name")),
          struct(col("p_type").as("name"))).as("categories"))).as("j"))
      .collect().map(_.getString(0)).toIndexedSeq
  }

  /** Refund JSON for an order-id batch: every R-flag line item refunds
    * half its quantity (int div) and half its discounted total. Orders
    * with no R items produce no refund payload, like an empty
    * `GET /orders/{id}/refunds` response. */
  def refundJsonsForOrders(spark: SparkSession, dir: String, orderIds: Seq[Long]): Seq[String] = {
    if (orderIds.isEmpty) return Seq.empty
    import spark.implicits._
    val want = orderIds.toDF("l_orderkey")
    val r = Tables.lineitem(spark, dir)
      .join(broadcast(want), Seq("l_orderkey"), "left_semi")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        struct(
          col("l_partkey").as("product_id"),
          lit(0L).as("variation_id"),
          (col("l_quantity") / 2).cast("int").as("quantity"),
          format_string("%.2f", col("l_extendedprice") * (lit(1.0) - col("l_discount")) / 2)
            .as("total")).as("it"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) / 2).as("amt"))
    r.groupBy(col("l_orderkey").as("order_id"))
      .agg(format_string("%.2f", sum(col("amt"))).as("amount"),
        collect_list(col("it")).as("line_items"))
      .select(to_json(struct(col("order_id"), col("amount"), col("line_items"))).as("j"))
      .collect().map(_.getString(0)).toIndexedSeq
  }

  /** Parse a JSON payload batch with one of the [[graft.model.WooSchemas]]
    * shapes (explicit schema — never inferred), as ONE partition: the
    * batch is a driver-side `Seq`, so a single partition lets its dedup
    * window and aggregates plan with no exchange. Scale is the DSv2 paged
    * connector's job (`sources.v2.PagedOrdersProvider`), not this one's. */
  def parse(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      jsons: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.schema(schema).json(jsons.toDS()).coalesce(1)
  }
}
