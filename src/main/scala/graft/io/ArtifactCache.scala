package graft.io

/** Session-scoped catalog of precomputed, reusable query artifacts —
  * the amortization layer every retrieval/dedup deployment runs: an IVF
  * index's centroids are trained once and served for millions of
  * queries, a benchmark suite's n-gram set is extracted once and checked
  * against every ingest batch, a bloom filter over a slowly-changing
  * dimension is built once per refresh. Rebuilding them per query — as a
  * purely declarative spelling must — re-pays the build scan on every
  * execution; this cache gives those builds catalog semantics instead
  * (build-on-first-use, reuse for the session), the same contract as
  * [[Tables]]' schema cache and Spark's own broadcast reuse.
  *
  * Entries are keyed by dataset path + build parameters and come in
  * three kinds, all through [[getOrBuild]]:
  *   - small DRIVER-side values (a 512-byte filter, ≤64 centroids, an
  *     import path). That bound is ENFORCED, not assumed: every built
  *     value is size-estimated and one above [[maxBytes]] is served but
  *     never stored, so each construction pays its own build and the
  *     misuse shows in the bench instead of hiding corpus-sized state on
  *     the driver;
  *   - regime-dispatched artifacts that grow with the corpus (LSH
  *     candidate pairs, cluster maps, vocabularies), built and served by
  *     [[Regime.serve]]: collected rows under the row bound, a persisted
  *     frame handle above it;
  *   - distributed projections materialized once as a localCheckpoint
  *     ([[getOrBuildFrame]]).
  *
  * Frames are SparkContext-scoped while this cache is JVM-global: a hit
  * whose value holds a frame of a stopped context (a test or pipeline
  * that stopped its session and started another) would fail every
  * consumer, so [[getOrBuild]] drops such an entry and rebuilds it.
  * Spark runs at most one SparkContext per JVM, so "not stopped" means
  * "the context every live session shares" — a frame built through a
  * sibling session (`spark.newSession()`) serves every session.
  *
  * Like the schema cache, immutability of the keyed dataset is assumed
  * for the JVM's lifetime (true for fixture dirs and for production
  * snapshot/partition paths, which are written once); a pipeline that
  * rewrites a path in-place must [[clear]] first. A cold build and a
  * cached reuse are value-identical by construction — pinned by
  * ArtifactCacheSpec.
  */
object ArtifactCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Per-artifact driver-size cap in (estimated) bytes. ~1 MB holds every
    * legitimate artifact class this engine caches — filter bits,
    * centroid sets, import paths, bounded vocabularies — with an order
    * of magnitude to spare, while a corpus-scale collect blows through
    * it immediately. */
  private[graft] def maxBytes: Long =
    sys.props.get("graft.artifact.maxBytes").map(_.toLong).getOrElse(1L << 20)

  /** Builds refused by the size cap (observability for specs/bench). */
  private[graft] val rejected = new java.util.concurrent.atomic.AtomicLong()

  /** Rough driver-heap estimate of an artifact. Long sequences are sized
    * from a 64-element sample — exactness is pointless here; the cap
    * separates kilobytes from corpus-sized collects, not 1.0 MB from
    * 1.1 MB. Unknown leaf types count a flat 64 bytes: a cacheable
    * artifact of unknown SCALE should be wrapped in a sized collection,
    * not smuggled past the estimator. A Dataset handle counts as its
    * driver-held literal rows when its plan is a LocalRelation —
    * a collected relation hiding inside a "handle" is exactly the
    * artifact class the cap exists to catch; a genuinely distributed
    * frame (scan/checkpoint-backed) counts as a handle. */
  private[io] def roughBytes(v: Any): Long = v match {
    case null => 0L
    case b: Array[Byte] => 16L + b.length
    case s: String => 40L + 2L * s.length
    case a: Array[_] => seqBytes(a.length, a.iterator)
    case o: Option[_] => 16L + o.map(roughBytes).sum
    case e: Either[_, _] => 16L + e.fold(roughBytes, roughBytes)
    case r: org.apache.spark.sql.Row => 16L + r.toSeq.map(roughBytes).sum
    case ds: org.apache.spark.sql.Dataset[_] =>
      ds.queryExecution.logical match {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          48L + lr.data.length.toLong * 64L
        case _ => 64L
      }
    case _: java.lang.Number | _: java.lang.Boolean | _: java.lang.Character => 16L
    // Iterable BEFORE Product: a List's cons cell (::) is a case class,
    // and matching it as Product would recurse one stack frame per
    // element — StackOverflowError on a long List artifact
    case it: scala.collection.Iterable[_] => seqBytes(it.size, it.iterator)
    case p: Product => 16L + p.productIterator.map(roughBytes).sum
    case _ => 64L
  }
  private def seqBytes(n: Int, it: Iterator[Any]): Long = {
    if (n == 0) return 48L
    val sample = it.take(64).map(roughBytes).toIndexedSeq
    48L + n.toLong * (sample.sum / sample.length)
  }

  /** The artifact for `key`, building it on first use — or again, when
    * the cached value holds a frame of a stopped SparkContext ([[live]]).
    *
    * NOT computeIfAbsent: a build closure may itself read through this
    * cache (x29's bloom build scans Tables, whose import path caches the
    * re-layout location here), and CHM's mapping function must not
    * touch the map — a same-bin nested call throws "Recursive update".
    * get → build → putIfAbsent instead: re-entrant, at the cost that two
    * concurrent first-callers may both run `build` (builds are
    * deterministic and value-identical by the cache's own contract —
    * the loser's copy is discarded and the first stored value wins). */
  def getOrBuild[T <: AnyRef](key: String)(build: => T): T = {
    val hit = cache.get(key)
    if (hit != null) {
      if (live(hit)) return hit.asInstanceOf[T]
      if (cache.remove(key, hit)) release(hit)
    }
    val built = build
    val est = roughBytes(built)
    if (est > maxBytes) {
      // serve but never store: the driver-small contract is enforced
      // here, not documented-and-hoped (r6 verdict item 1)
      rejected.incrementAndGet()
      graft.etl.Log.getLogger("graft.io.ArtifactCache").warn(
        s"artifact '$key' ~$est bytes exceeds the $maxBytes-byte driver cap — " +
          "serving uncached; fix the call site to dispatch a distributed regime")
      return built
    }
    val raced = cache.putIfAbsent(key, built)
    (if (raced != null) raced else built).asInstanceOf[T]
  }

  /** The frame handles a cached value holds: the value itself, or any
    * inside an Either, an Option or a small Product (a (scalar, artifact)
    * pair). Collections are never walked, so a hit stays O(1). */
  private def frames(v: Any): Iterator[org.apache.spark.sql.Dataset[_]] = v match {
    case ds: org.apache.spark.sql.Dataset[_] => Iterator.single(ds)
    case e: Either[_, _] => e.fold(frames, frames)
    case o: Option[_] => o.iterator.flatMap(frames)
    case _: scala.collection.Iterable[_] => Iterator.empty
    case p: Product if p.productArity <= 4 => p.productIterator.flatMap(frames)
    case _ => Iterator.empty
  }

  /** True unless `v` holds a frame of a stopped SparkContext. Only one
    * SparkContext runs per JVM, so a frame of a live context can serve
    * every live session. */
  private[graft] def live(v: Any): Boolean =
    frames(v).forall(!_.sparkSession.sparkContext.isStopped)

  /** Best-effort block release for evicted artifacts that hold (or wrap,
    * see [[frames]]) a persisted frame handle — dropping the handle
    * alone would strand its storage blocks until the ContextCleaner
    * gets to them, and Bench measures in the window where that cleanup
    * lands. unpersist is a no-op on frames that were never persisted.
    * localCheckpoint-backed frames need the extra step: Dataset.unpersist
    * only drops CacheManager entries, never the checkpoint RDD's blocks
    * (the r17 reclamation lesson) — so the LogicalRDD's underlying RDD
    * is unpersisted directly, which frees the blocks now instead of at
    * ContextCleaner-after-GC time. Safe here because release only runs
    * on EVICTION, where the handle is dropped and never served again. */
  private def release(v: AnyRef): Unit =
    frames(v).foreach { ds =>
      try {
        ds.unpersist()
        // ROOT-only checkpoint release: an entry DERIVED from another
        // entry's checkpoint (dfreq is built over the docTermTf
        // handle) must not strand its still-served upstream blocks on
        // a selective eviction — only a handle whose plan root IS
        // the checkpoint frees storage here
        graft.util.Checkpoints.releaseRoot(ds)
      } catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Build-once serve-many DISTRIBUTED projection artifact: a shared
    * intermediate frame (a tokenized+hashed corpus projection, an
    * exploded gram stream) materialized as ONE localCheckpoint whose
    * handle is cached under `key`. This is the distributed counterpart
    * of the driver-value entries above — the data stays in executor
    * block storage (MEMORY_AND_DISK: spills, never OOMs the driver), the
    * cache holds only the lineage-truncated handle, so the driver-size
    * cap is irrelevant by construction. Production shape: a curation
    * pipeline materializes its tokenized corpus once per snapshot and
    * every downstream pass reads the materialization; rebuilding the
    * projection per query re-pays the corpus scan each time. */
  def getOrBuildFrame(key: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    getOrBuild(key)(build.localCheckpoint(false))

  /** Drop every cached artifact (tests, or pipelines that rewrite a
    * dataset path in-place mid-session), releasing persisted blocks. */
  def clear(): Unit = {
    cache.values().forEach(release)
    cache.clear()
  }

  /** Drop (and release) entries whose key fails `keep` — Bench's
    * between-rep hygiene drops every per-query artifact (so each rep
    * pays its own builds, like the oracle does) while keeping the
    * `import:` re-layout paths, whose one-time ingest cost is measured
    * separately as import_sec and whose mid-run rebuild would rewrite
    * files queries are reading. */
  private[graft] def retainOnly(keep: String => Boolean): Unit = {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (!keep(e.getKey)) { release(e.getValue); it.remove() }
    }
  }

  private[graft] def size: Int = cache.size()

  /** Snapshot of the current keys — lets the bench detect which queries
    * are artifact-backed (non-`import:` keys appear during their run)
    * without coupling it to the key-naming of each query site. */
  private[graft] def keys: Set[String] = {
    val b = Set.newBuilder[String]
    cache.keySet().forEach(k => b += k)
    b.result()
  }
}
