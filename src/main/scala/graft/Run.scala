package graft

import graft.etl.{Enrich, Incremental, Load, Normalize, StateStore}
import graft.model.WooSchemas
import graft.sources.{PagedSource, WooFixtureApi}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The reference's primary entry point as a runnable main — the Spark
  * twin of `python -m src.run` (reference `src/run.py:128-166`): fetch
  * orders since the watermark through the paged client, normalize →
  * enrich → apply refunds → upsert both facts into a parquet warehouse,
  * advance the watermark, and run the re-enrich pass under run.py's
  * exact condition (`run.py:158-162`: `--force-enrich-all` always
  * re-enriches everything; `--re-enrich` OR an idle run re-enriches
  * missing categories). `--backfill-start` switches to the windowed
  * backfill loop (`run.py:100-125`) via [[Incremental.backfill]].
  *
  * Note the deliberate asymmetry with [[Incremental.runFlow]]: that is
  * the Prefect flow's twin, whose re-enrich gate is the dead-flag
  * `elif re_enrich or True:` (`flow.py:212`); run.py's gate is live.
  * Both reference behaviors are reproduced, each on its own entry point.
  *
  * Usage (fixture-backed API, see [[WooFixtureApi]]):
  *   runMain graft.Run --data /root/testdata/sf0.001 \
  *     --warehouse /tmp/graft_wh [--backfill-start 2001-01-01] \
  *     [--re-enrich] [--force-enrich-all] [--now 2002-01-01T00:00:00Z]
  */
object Run {

  final case class Args(
      data: String = "/root/testdata/sf0.001",
      warehouse: String = "/tmp/graft_wh",
      backfillStart: Option[String] = None,
      reEnrich: Boolean = false,
      forceEnrichAll: Boolean = false,
      now: Option[String] = None,
      // --log-warehouse: store the fact tables in graft.io.LogTable
      // (concurrent-writer commit log) instead of parquet-swap
      // directories; same pipeline, same results (RunSpec pins it)
      logWarehouse: Boolean = false)

  private def parseArgs(argv: Array[String]): Args = {
    @annotation.tailrec
    def go(rest: List[String], acc: Args): Args = rest match {
      case Nil => acc
      case "--data" :: v :: t => go(t, acc.copy(data = v))
      case "--warehouse" :: v :: t => go(t, acc.copy(warehouse = v))
      case "--backfill-start" :: v :: t => go(t, acc.copy(backfillStart = Some(v)))
      case "--re-enrich" :: t => go(t, acc.copy(reEnrich = true))
      case "--force-enrich-all" :: t => go(t, acc.copy(forceEnrichAll = true))
      case "--now" :: v :: t => go(t, acc.copy(now = Some(v)))
      case "--log-warehouse" :: t => go(t, acc.copy(logWarehouse = true))
      case other :: _ => throw new IllegalArgumentException(s"unknown arg: $other")
    }
    go(argv.toList, Args())
  }

  /** One fetch→transform→load batch; returns (orders loaded, max order
    * date seen). Mirrors run.py's `_process_batch`. */
  def processBatch(spark: SparkSession, data: String, warehouse: String,
      sinceIso: String, untilIso: Option[String] = None,
      store: graft.etl.WarehouseStore = graft.etl.ParquetWarehouse)
      : (Long, Option[java.time.Instant]) = {
    // paged fetch with the reference's page size + retry policy;
    // `untilIso` bounds a backfill window's slice (exclusive)
    val all = WooFixtureApi.orderJsonsSince(spark, data, sinceIso, untilIso)
    val pages = all.grouped(100).toVector
    val rawJson = PagedSource.fetchAll(100) { p =>
      if (p <= pages.size) pages(p - 1) else Seq.empty
    }
    if (rawJson.isEmpty) return (0L, None)
    processRawOrders(spark,
      WooFixtureApi.parse(spark, WooSchemas.rawOrder, rawJson), data, warehouse,
      store)
  }

  /** The transform+load tail of `_process_batch` over ALREADY-FETCHED raw
    * orders: normalize → enrich (per-batch product fetch) → apply refunds
    * → idempotent double upsert. Shared verbatim by the CLI batch path
    * ([[processBatch]]) and the streaming sink
    * ([[graft.streaming.OrderStream]]'s foreachBatch) — one body, two
    * execution modes, so stream-ingested warehouse state equals the batch
    * run's by construction (pinned end-to-end in OrderStreamSpec). */
  def processRawOrders(spark: SparkSession, raw: org.apache.spark.sql.DataFrame,
      data: String, warehouse: String,
      store: graft.etl.WarehouseStore = graft.etl.ParquetWarehouse)
      : (Long, Option[java.time.Instant]) =
    batchFacts(spark, raw, data).fold((0L, Option.empty[java.time.Instant])) { b =>
      // each fact feeds its upsert twice (key set and union): persisted,
      // the parse→normalize→enrich→refund lineage runs once per fact
      val oFinal = b.orders.persist()
      val iFinal = b.items.persist()
      try {
        store.upsert(spark, warehouse, "fct_orders",
          Load.alignColumns(oFinal, WooSchemas.fctOrders), "order_id")
        store.upsert(spark, warehouse, "fct_order_items",
          Load.alignColumns(iFinal, WooSchemas.fctOrderItems), "order_id")
      } finally { oFinal.unpersist(); iFinal.unpersist() }
      (b.loaded, b.maxOrderDate)
    }

  /** One batch's two facts, ready to upsert, and what the harvest saw:
    * the orders loaded and their max `order_date`. */
  private[graft] final case class BatchFacts(
      orders: org.apache.spark.sql.DataFrame,
      items: org.apache.spark.sql.DataFrame,
      loaded: Long,
      maxOrderDate: Option[java.time.Instant])

  /** [[processRawOrders]]' transform: None for an empty batch (P11). */
  private[graft] def batchFacts(spark: SparkSession,
      raw: org.apache.spark.sql.DataFrame, data: String): Option[BatchFacts] = {
    // WITHIN-batch key dedup (the reference's dict-keyed-by-id semantics,
    // run.py's page loop): an at-least-once producer or an overlapping
    // re-fetch window can land the same order in two files of ONE
    // micro-batch, and the keyed upsert's anti-join removes matches from
    // the EXISTING side only — duplicate incoming rows would both land.
    // The pick is deterministic by content (max of the row's JSON
    // rendering): duplicate payloads are normally identical, and when
    // they differ no arrival order exists in a distributed read.
    val rawDeduped = {
      import org.apache.spark.sql.expressions.Window
      raw.withColumn("_dup_rank", row_number().over(
          Window.partitionBy(col("id"))
            .orderBy(to_json(struct(col("*"))).desc)))
        .filter(col("_dup_rank") === 1)
        .drop("_dup_rank")
    }
    // The harvest: ONE driver-side action yields the batch's emptiness,
    // order ids, product ids, size and max order date — a faithful
    // mirror of the reference's per-batch REST fetch (run.py:33,38),
    // bounded by batch size BY CONTRACT: the caps turn a misconfigured
    // backfill (one giant window instead of the windowed walk) into a
    // loud error instead of a driver OOM. The scale path is the DSv2
    // paged connector, which never collects.
    val cap = BatchMaxIds
    val rows = rawDeduped
      .select(col("id"), Normalize.orderTs, col("line_items.product_id"))
      .limit(cap + 1).collect()
    if (rows.isEmpty) return None
    val pids = rows.iterator.filterNot(_.isNullAt(2))
      .flatMap(_.getSeq[java.lang.Long](2)).filter(_ != null)
      .map(_.longValue).distinct.toIndexedSeq.sorted
    if (pids.size > cap) throw batchTooLarge(cap, "product ids")
    if (rows.length > cap) throw batchTooLarge(cap, "order ids")
    val oids = rows.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toIndexedSeq
    val maxOrderDate = rows.iterator.filterNot(_.isNullAt(1))
      .map(_.getTimestamp(1).toInstant).maxOption

    val (orders, items) = Normalize(rawDeduped)
    // per-batch product lookup, chunked like products.py:45 (the fixture
    // client takes the whole id set; chunking semantics live in S4)
    val products = WooFixtureApi.parse(spark, WooSchemas.rawProduct,
      WooFixtureApi.productJsonsByIds(spark, data, pids))
    val enriched = Enrich.itemsWithCategories(items, products)
    val refunds = WooFixtureApi.parse(spark, WooSchemas.rawRefund,
      WooFixtureApi.refundJsonsForOrders(spark, data, oids))
    val (oFinal, iFinal) = applyBatchRefunds(orders, enriched, refunds)
    Some(BatchFacts(oFinal, iFinal, rows.length.toLong, maxOrderDate))
  }

  /** One batch's refund application over both facts (reference
    * `enrich.py:26-73`). A batch's refunds are at most its own orders':
    * both refund sides broadcast. Left to the planner, each join would
    * hash-shuffle both of its sides (a parsed batch carries no size
    * estimate), and AQE would convert it only after both shuffle stages
    * had run. */
  private[graft] def applyBatchRefunds(orders: org.apache.spark.sql.DataFrame,
      items: org.apache.spark.sql.DataFrame, rawRefunds: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    (Enrich.applyOrderRefunds(orders, broadcast(Enrich.refundOrderTotals(rawRefunds))),
     Enrich.applyItemRefunds(items, broadcast(Enrich.refundItemTotals(rawRefunds))))

  /** Driver-harvest budget for the per-batch ids (env-tunable via
    * graft.batch.maxIds). Typical nightly windows carry thousands of
    * ids; a million-id harvest means the caller pointed a whole-history
    * backfill at the per-batch path. */
  private[graft] def BatchMaxIds: Int =
    sys.props.get("graft.batch.maxIds").map(_.toInt).getOrElse(1000000)

  private def batchTooLarge(cap: Int, what: String) = new IllegalStateException(
    s"processRawOrders: batch carries > $cap distinct $what — " +
      "the per-batch driver-side API emulation cannot hold this window; " +
      "run a windowed backfill (--backfill-start) or raise " +
      "graft.batch.maxIds")

  private val IsoLocal = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  /** run.py's `_re_enrich_categories`: recompute category_snapshot from
    * the product catalog for missing (or, forced, ALL) item rows — the
    * K5 join-driven UPDATE.
    *
    * Fidelity notes vs `run.py:52-98`:
    *   - the probe mirrors run.py's `need` query (DISTINCT pids of
    *     MISSING rows only, or of all rows under force), and the fetch
    *     is chunked at the API page size like `products.py:45` — the id
    *     stream goes through `toLocalIterator`, so the driver holds one
    *     scan partition + one 100-id chunk, never the full id array;
    *   - the mapping covers EVERY probed pid (left join to the parsed
    *     catalog), so a product the API no longer returns — or one that
    *     lost all categories — maps to NULL and, exactly like run.py's
    *     map_df of None values, CLEARS the stale snapshot on update
    *     (see [[Load.updateFromMap]]);
    *   - DELIBERATE metric difference: run.py returns the number of
    *     products attempted; this returns the number of item ROWS whose
    *     snapshot actually changes — the actionable number for a keyed
    *     rewrite (an attempted-products count would claim work on runs
    *     that rewrite nothing). The summary line labels it
    *     `reenriched=`, not a run.py-identical figure. */
  def reEnrichCategories(spark: SparkSession, data: String, warehouse: String,
      forceAll: Boolean,
      store: graft.etl.WarehouseStore = graft.etl.ParquetWarehouse): Long = {
    import scala.jdk.CollectionConverters._
    // existence goes through the store (the parquet backend resolves the
    // Hadoop FS scheme, so a non-local warehouse URI must not silently
    // skip the re-enrich pass; the log backend folds its manifest)
    if (!store.exists(spark, warehouse, "fct_order_items")) return 0L
    val items = store.read(spark, warehouse, "fct_order_items")
    val needs = if (forceAll) lit(true) else Load.missingCategory
    val probed = items.filter(needs && col("product_id").isNotNull)
      .select("product_id").distinct()
    if (probed.isEmpty) return 0L // run.py:69-71 "nothing to do"
    // Catalog fetch, streamed in API-page chunks: the JSON buffer is
    // catalog-bounded (the dimension the reference also holds in memory
    // as map_df), while the pid stream itself never materializes.
    val productJsons = scala.collection.mutable.ArrayBuffer.empty[String]
    probed.orderBy("product_id").toLocalIterator().asScala
      .map(_.getLong(0)).grouped(100)
      .foreach { chunk =>
        productJsons ++= WooFixtureApi.productJsonsByIds(spark, data, chunk.toIndexedSeq)
      }
    val products = WooFixtureApi.parse(spark, WooSchemas.rawProduct,
      productJsons.toIndexedSeq)
    // every probed pid gets a mapping row (NULL category when the
    // catalog no longer knows it) — run.py's map_df shape
    val mapping = probed.join(Enrich.categoryMap(products), Seq("product_id"), "left")
    // would-change count straight off items ⟕ mapping (updateFromMap's
    // own gate, shared via Load.missingCategory so count and write can
    // never drift), not a self-join back — item rows have no line id, so
    // a join on (order, product, …) could fan out on duplicate lines
    val touched = items
      .join(broadcast(mapping.withColumnRenamed("category_snapshot", "_new_cat")
          .withColumn("_m_hit", lit(1))),
        Seq("product_id"), "left")
      .filter(needs && col("_m_hit").isNotNull &&
        !(col("_new_cat") <=> col("category_snapshot"))).count()
    if (touched > 0)
      store.upsert(spark, warehouse, "fct_order_items",
        Load.updateFromMap(items, mapping, force = forceAll), "order_id")
    touched
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val spark = LocalSession.builder(LocalSession.cpus(4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val summary = execute(spark, args)
      // one console emission: the bare println IS the summary's console
      // line (reference run.py's logger also resolves to the console) —
      // a parallel graft-logger call would ride the additive console
      // appender and print it twice, and the namespace's INFO gate makes
      // a debug-level call dead code, so neither belongs here
      println(summary)
    } finally spark.stop()
  }

  /** The orchestration, factored for the spec; returns the summary line.
    *
    * `onFailure` is the operational notification hook (reference
    * `src/etl/utils/notify.py`, see [[graft.etl.Notify]]): any failure in
    * the batch/backfill/re-enrich path invokes it with the error, then
    * rethrows — notification never swallows the failure. Default logs.
    *
    * Returns only once every Spark job that started during the call has
    * finished: AQE can leave a stage job running after the action that
    * submitted it returned (e.g. [[reEnrichCategories]]'s `isEmpty`
    * probe), and a caller's `spark.stop()` would then delete that job's
    * shuffle files under it. The jobs are waited for, not cancelled. */
  def execute(spark: SparkSession, args: Args,
      onFailure: Throwable => Unit = graft.etl.Notify.onFailure): String = {
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getActiveJobIds().toSet
    try executeInner(spark, args)
    catch {
      case e: Throwable =>
        try onFailure(e) catch { case scala.util.control.NonFatal(_) => () }
        throw e
    } finally {
      while (tracker.getActiveJobIds().exists(id => !before.contains(id)))
        Thread.sleep(1)
    }
  }

  private def executeInner(spark: SparkSession, args: Args): String = {
    val store: graft.etl.WarehouseStore =
      if (args.logWarehouse) graft.etl.LogWarehouse else graft.etl.ParquetWarehouse
    val whPath = new org.apache.hadoop.fs.Path(args.warehouse)
    whPath.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(whPath)
    val state = new StateStore(java.nio.file.Paths.get(args.warehouse, "state.json"))
    val now = args.now.map(java.time.Instant.parse)
      .getOrElse(java.time.Instant.now())

    args.backfillStart match {
      case Some(start) =>
        // run.py:100-125: windowed walk from start to now, watermark
        // advancing per window, final missing-category re-enrich pass
        var total = 0L
        Incremental.backfill(
          java.time.Instant.parse(start + "T00:00:00Z"), now,
          java.time.Duration.ofDays(30)) { (winStart, winEnd) =>
          // each window fetches ONLY its slice — the bounded-memory
          // contract documented on Incremental.backfill (run.py instead
          // leaves the request unbounded and relies on the watermark,
          // which collapses the windowed walk into one giant batch)
          val (n, maxDt) = processBatch(spark, args.data, args.warehouse,
            IsoLocal.format(winStart), untilIso = Some(IsoLocal.format(winEnd)),
            store = store)
          total += n
          maxDt.foreach(state.advanceFrom)
          maxDt
        }
        val touched = reEnrichCategories(spark, args.data, args.warehouse,
          forceAll = false, store = store)
        s"backfill complete: orders=$total reenriched=$touched watermark=${state.sinceIso(now)}"
      case None =>
        // run.py:141-162: one incremental run, then the LIVE re-enrich
        // gate (explicit flag OR idle; force-all overrides)
        val since = state.sinceIso(now)
        val (n, maxDt) = processBatch(spark, args.data, args.warehouse, since,
          store = store)
        maxDt.foreach(state.advanceFrom)
        val touched =
          if (args.forceEnrichAll)
            Some(reEnrichCategories(spark, args.data, args.warehouse,
              forceAll = true, store = store))
          else if (args.reEnrich || n == 0L)
            Some(reEnrichCategories(spark, args.data, args.warehouse,
              forceAll = false, store = store))
          else None
        s"run complete: orders=$n reenriched=${touched.map(_.toString).getOrElse("skipped")} " +
          s"watermark=${state.sinceIso(now)}"
    }
  }
}
