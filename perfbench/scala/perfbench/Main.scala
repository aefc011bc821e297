package perfbench

import graft.QueryDef
import graft.etl.{Incremental, ParquetWarehouse, StateStore, WarehouseStore}
import graft.model.WooSchemas
import graft.sources.{PagedSource, WooFixtureApi}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}
import java.time.{Duration, LocalDate}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** JVM side of the benchmark: one process, one Spark session, one
  * closed-loop client thread. It sets the workload up, issues ops for
  * `--seconds`, then writes what the output checks need and a raw
  * result file (setup times, one record per op) that `run.py` turns into
  * metrics.
  *
  * An op's clock stops when the call has returned AND every job it left
  * running has finished; the number still running at return is recorded.
  * With `--trace 1`, every other op runs decomposed into layer calls
  * under a [[Trace]]; the untraced ops of the same run give the tracing
  * overhead.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, cores: Int)

  /** One measured call: `plain` is the public entry point, `traced` the
    * same call decomposed into layer spans. Both return the op's units
    * (orders loaded, or 1 per query execution). */
  final case class Op(kind: String, name: String, plain: () => Long,
      traced: Trace => Long, traceIt: Boolean)

  final case class OpRec(kind: String, name: String, wallS: Double, ok: Boolean,
      leaked: Int, traced: Boolean, units: Long, gcS: Double,
      layers: Map[String, Double], error: String)

  trait Workload {
    def setup(): Unit
    /** The ops of step `i`, run back to back (a step is never split). */
    def step(i: Int): Seq[Op]
    /** Steps per round: the deadline ends a run only between rounds, so
      * every run measures the same mix. */
    def roundSize: Int = 1
    /** Runs after measuring, outside every clock: writes check inputs. */
    def writeChecks(dir: Path): Unit
    def extra: Map[String, String] = Map.empty
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("data"), a("work"), a("cores").toInt)
    val procStartMs = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(System.currentTimeMillis())
    val mainMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val spark = session(o.cores)
    val tSession = System.nanoTime()
    val rng = new scala.util.Random(o.seed)
    val wl: Workload = o.workload match {
      case "etl_daily" => new EtlDaily(spark, o, rng)
      case "curation"  => new Curation(spark, o, rng)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    val tr = if (o.trace) Some(new Trace(spark)) else None
    val recs = mutable.ArrayBuffer.empty[OpRec]
    val workDir = Paths.get(o.work)
    try {
      wl.setup()
      val tReady = System.nanoTime()
      val deadline = tReady + (o.seconds * 1e9).toLong
      var i = 0
      while (i % wl.roundSize != 0 || System.nanoTime() < deadline) {
        wl.step(i).foreach(op => recs += runOp(spark, op, tr))
        i += 1
      }
      val tEnd = System.nanoTime()
      wl.writeChecks(workDir)
      val setup = Map(
        "jvm_s" -> (mainMs - procStartMs) / 1e3,
        "session_s" -> (tSession - t0) / 1e9,
        "workload_setup_s" -> (tReady - tSession) / 1e9,
        "setup_s" -> ((mainMs - procStartMs) / 1e3 + (tReady - t0) / 1e9),
        "measure_s" -> (tEnd - tReady) / 1e9)
      Files.writeString(workDir.resolve("raw.json"),
        Json.obj(Seq(
          "setup" -> Json.obj(setup.toSeq.map { case (k, v) => k -> Json.num(v) }),
          "peak_rss_kb" -> Json.num(peakRssKb().toDouble),
          "extra" -> Json.obj(wl.extra.toSeq.map { case (k, v) => k -> Json.str(v) }),
          "ops" -> Json.arr(recs.toSeq.map(opJson)))))
    } finally spark.stop()
  }

  /** The session `graft.Run.main` builds. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def runOp(spark: SparkSession, op: Op, tr: Option[Trace]): OpRec = {
    val tracing = tr.filter(_ => op.traceIt)
    tracing.foreach(_.attach())
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    var units = 0L
    var err = ""
    try units = tracing.fold(op.plain())(t => t.span("op")(op.traced(t)))
    catch { case NonFatal(e) => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val sc = spark.sparkContext
    val leaked = sc.statusTracker.getActiveJobIds().length
    while (sc.statusTracker.getActiveJobIds().nonEmpty) Thread.sleep(1)
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = gcSeconds() - gc0
    val layers = tracing.fold(Map.empty[String, Double]) { t =>
      org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
      t.detach()
      t.summarize(wall) + ("jvm.gc_s" -> gc)
    }
    OpRec(op.kind, op.name, wall, err.isEmpty, leaked, tracing.isDefined, units, gc,
      layers, err)
  }

  private def opJson(r: OpRec): String = Json.obj(Seq(
    "kind" -> Json.str(r.kind), "name" -> Json.str(r.name),
    "wall_s" -> Json.num(r.wallS), "ok" -> r.ok.toString,
    "leaked" -> Json.num(r.leaked.toDouble), "traced" -> r.traced.toString,
    "units" -> Json.num(r.units.toDouble), "gc_s" -> Json.num(r.gcS),
    "error" -> Json.str(r.error),
    "layers" -> Json.obj(r.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))

  /** Store decorator that times every upsert as a `store` span. */
  final class TimedStore(inner: WarehouseStore, tr: Trace) extends WarehouseStore {
    def exists(spark: SparkSession, warehouse: String, table: String): Boolean =
      inner.exists(spark, warehouse, table)
    def read(spark: SparkSession, warehouse: String, table: String): DataFrame =
      inner.read(spark, warehouse, table)
    def upsert(spark: SparkSession, warehouse: String, table: String,
        df: DataFrame, key: String): Unit =
      tr.span("store")(inner.upsert(spark, warehouse, table, df, key))
  }

  private val IsoLocal = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  /** The nightly incremental run on the default (parquet) warehouse:
    * history up to a seed-picked day of 2001 H1 is seeded with one
    * `Run.processBatch`, then each op is one `Run.execute` over a 1-day
    * window with its trailing re-enrich pass. Every [[RerunEvery]]-th op,
    * starting with the second, re-runs an already-loaded day (an
    * idempotent replace). */
  final class EtlDaily(spark: SparkSession, o: Opts, rng: scala.util.Random) extends Workload {
    val RerunEvery = 3
    override def roundSize: Int = RerunEvery
    private val wh = Paths.get(o.work, "warehouse").toString
    private val firstDay = LocalDate.parse("2001-01-01").plusDays(rng.nextInt(150))
    private var nextDay = firstDay
    private val windows = mutable.ArrayBuffer.empty[LocalDate]

    def setup(): Unit = {
      graft.Run.processBatch(spark, o.data, wh, "1995-01-01 00:00:00",
        Some(s"$firstDay 00:00:00"))
      // one untimed day past the seeding batch: the first op of a fresh
      // JVM pays one-off JIT and codegen costs the seeding batch did not
      dayOp(newDay()).plain()
    }

    private def newDay(): LocalDate = { val d = nextDay; nextDay = nextDay.plusDays(1); d }

    def step(i: Int): Seq[Op] = {
      val day =
        if (i % RerunEvery == 1) firstDay.minusDays(1 + rng.nextInt(60)) else newDay()
      Seq(dayOp(day).copy(traceIt = i % 2 == 1))
    }

    private def dayOp(day: LocalDate): Op = {
      val kind = if (day.isBefore(firstDay)) "rerun" else "new"
      Op(kind, day.toString,
        plain = () => {
          windows += day
          val summary = graft.Run.execute(spark, graft.Run.Args(data = o.data,
            warehouse = wh, backfillStart = Some(day.toString),
            now = Some(s"${day.plusDays(1)}T00:00:00Z")))
          """orders=(\d+)""".r.findFirstMatchIn(summary).map(_.group(1).toLong).getOrElse(0L)
        },
        traced = tr => { windows += day; tracedDay(tr, day) },
        traceIt = false)
    }

    /** `Run.execute`'s backfill branch for one day, with each layer's
      * public call wrapped in a span. */
    private def tracedDay(tr: Trace, day: LocalDate): Long = {
      val state = new StateStore(Paths.get(wh, "state.json"))
      val store = new TimedStore(ParquetWarehouse, tr)
      var total = 0L
      Incremental.backfill(day.atStartOfDay(java.time.ZoneOffset.UTC).toInstant,
        day.plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant,
        Duration.ofDays(30)) { (ws, we) =>
        val raw = tr.span("sources") {
          val all = WooFixtureApi.orderJsonsSince(spark, o.data, IsoLocal.format(ws),
            Some(IsoLocal.format(we)))
          val pages = all.grouped(100).toVector
          PagedSource.fetchAll(100)(p => if (p <= pages.size) pages(p - 1) else Seq.empty)
        }
        tr.count("sources.orders_fetched", raw.size)
        if (raw.isEmpty) None
        else {
          val parsed = tr.span("sources")(WooFixtureApi.parse(spark, WooSchemas.rawOrder, raw))
          val (n, maxDt) = tr.span("etl")(
            graft.Run.processRawOrders(spark, parsed, o.data, wh, store))
          total += n
          maxDt.foreach(state.advanceFrom)
          maxDt
        }
      }
      tr.span("reenrich")(graft.Run.reEnrichCategories(spark, o.data, wh,
        forceAll = false, store = store))
      tr.count("store.live_files", liveFiles())
      total
    }

    def liveFiles(): Int = Seq("fct_orders", "fct_order_items").map { t =>
      Option(Paths.get(wh, s"$t.parquet").toFile.list()).fold(0)(_.count { n =>
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      })
    }.sum

    def writeChecks(dir: Path): Unit = {
      val orders = ParquetWarehouse.read(spark, wh, "fct_orders")
      val items = ParquetWarehouse.read(spark, wh, "fct_order_items")
      val o1 = orders.selectExpr("count(*)", "count(distinct order_id)",
        "cast(sum(cast(gross_total as decimal(18,2))) as string)").head()
      val state = Files.readString(Paths.get(wh, "state.json"))
      Files.writeString(dir.resolve("etl_check.json"), Json.obj(Seq(
        "orders" -> Json.num(o1.getLong(0).toDouble),
        "distinct_order_ids" -> Json.num(o1.getLong(1).toDouble),
        "gross_total" -> Json.str(o1.getString(2)),
        "items" -> Json.num(items.count().toDouble),
        "state" -> Json.str(state),
        "seed_end" -> Json.str(firstDay.toString),
        "windows" -> Json.arr(windows.toSeq.map(d => Json.str(d.toString))))))
    }

    override def extra: Map[String, String] = Map("first_day" -> firstDay.toString)
  }

  /** LLM-pipeline curation rows from `ExtQueries` + `CorpusQueries`:
    * four rows that build and serve artifacts through `ArtifactCache`
    * (IVF centroids, contamination gram sets, DSIR weights, MinHash
    * bands) and one plain native-function row. Set-up runs each row
    * once so JIT and codegen are warm; then each row runs cold (artifact
    * cache cleared first) and warm, in rounds whose order the seed
    * shuffles. An op is one query execution materialized through a
    * `noop` write, so cold versus warm separates building an artifact
    * from serving it. */
  final class Curation(spark: SparkSession, o: Opts, rng: scala.util.Random) extends Workload {
    private val Rows = Set("x16_ivf_topk", "x22_contamination", "x43_dsir_select",
      "x4_fingerprint", "x6_minhash_lsh")
    private val slice: IndexedSeq[QueryDef] =
      (graft.queries.ExtQueries.defs ++ graft.queries.CorpusQueries.defs)
        .filter(d => Rows(d.name)).toIndexedSeq
    private var round: IndexedSeq[QueryDef] = IndexedSeq.empty
    /** Three passes over the rows, each in its own shuffled order. */
    override def roundSize: Int = 3 * slice.size

    def setup(): Unit = {
      require(slice.size == Rows.size, s"curation rows missing from the registry: " +
        (Rows -- slice.map(_.name)).mkString(", "))
      slice.foreach(d => materialize(d.run(spark, o.data)))
    }

    private def materialize(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    private def queryOp(d: QueryDef, cold: Boolean, traceIt: Boolean): Op = {
      def body(construct: => DataFrame, exec: DataFrame => Unit): Long = {
        if (cold) graft.perfbench.Artifacts.clear()
        exec(construct)
        1L
      }
      Op(if (cold) "cold" else "warm", d.name,
        plain = () => body(d.run(spark, o.data), materialize),
        traced = tr => {
          val before = if (cold) 0 else graft.perfbench.Artifacts.size
          val n = body(tr.span("queries.construct")(d.run(spark, o.data)),
            df => tr.span("queries.exec")(materialize(df)))
          tr.count("artifact.entries_built", (graft.perfbench.Artifacts.size - before).max(0))
          n
        },
        traceIt = traceIt)
    }

    def step(i: Int): Seq[Op] = {
      if (i % slice.size == 0) round = rng.shuffle(slice)
      val d = round(i % slice.size)
      val cold = queryOp(d, cold = true, traceIt = true)
      val warm = queryOp(d, cold = false, traceIt = true)
      if (!o.trace) Seq(cold, warm)
      else {
        // one more untraced warm op per query gives the tracing overhead;
        // its position alternates to cancel order effects
        val ref = queryOp(d, cold = false, traceIt = false).copy(kind = "warm_ref")
        Seq(cold) ++ (if (i % 2 == 0) Seq(warm, ref) else Seq(ref, warm))
      }
    }

    def writeChecks(dir: Path): Unit = {
      val res = dir.resolve("results")
      Files.createDirectories(res)
      slice.foreach { d =>
        d.run(spark, o.data).coalesce(1).write.mode("overwrite")
          .parquet(res.resolve(s"${d.name}.parquet").toString)
      }
      val oracle = graft.SparkEntry.oracleSql
      Files.writeString(dir.resolve("oracle_sql.json"), Json.obj(
        slice.map(d => d.name -> Json.str(oracle.getOrElse(d.name, "")))))
    }
  }
}

/** Minimal JSON writer (the benchmark adds no dependencies). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
