package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level curation operators for training-data pipelines, beyond
  * the per-document scores in [[TextAnalysis]] and the pairwise dedup in
  * [[Dedup]]: benchmark-contamination checks, corpus-wide duplicate-span
  * measurement, and fixed-window token chunking.
  *
  * Scale design:
  *   - contamination joins the corpus against the BENCHMARK n-gram set —
  *     benchmark suites are fixed-size (thousands of docs), so their
  *     distinct-gram set broadcasts and the corpus side stays a single
  *     linear scan with a map-side join: no corpus shuffle at 100 TB;
  *   - duplicate-span stats shuffle 8-byte gram hashes (never text) in a
  *     combinable groupBy — the wordcount shape, linear in corpus size;
  *   - chunking is a pure per-row expression (sequence/slice/posexplode),
  *     embarrassingly parallel, no shuffle at all.
  *
  * Determinism contract: gram identity is md5 (full hex for broadcast
  * membership, 60-bit prefix for shuffled counts — both reproducible in
  * DuckDB), and every ratio divides exact integers.
  */
object Corpus {

  /** Benchmark-contamination check (the "did my eval set leak into the
    * training corpus?" operator): for every non-benchmark document, the
    * fraction of its DISTINCT token n-grams that occur anywhere in the
    * benchmark set.
    *
    * The benchmark side is scanned separately through `df.filter(isBench)`
    * so at scale the (tiny) benchmark scan prunes at the source while the
    * corpus side streams once; its distinct-gram set is broadcast.
    * Returns (doc_id, n_grams, n_hits, contamination), one row per
    * non-benchmark document with ≥ n tokens. */
  // One native loop per document (ShingleSet60, r21): distinct 60-bit
  // gram hashes computed in-row — the (id, gram) pairs are distinct by
  // construction, so the corpus side needs no dedup exchange at all,
  // each distinct gram is digested exactly once, and the overlap join
  // and the index both carry fixed-width longs instead of 32-char hex
  // strings (the pre-r21 spelling ran the interpreted HOF shingle
  // chain + array_distinct over gram STRINGS + an md5 expression per
  // row). Distinct-on-hash equals distinct-on-raw-shingles up to md5
  // collisions, which the gram-identity contract already discounts —
  // the same identity every other gram consumer joins on.
  private def distinctGrams(
      src: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Dedup.tokenized(src, idCol, textCol)
      .select(col("id"),
        explode(graft.functions.ShingleSet60(col("toks"), n)).as("m"))

  /** The benchmark suite's distinct n-gram hash set as one column `m`,
    * built once per `key` and served through [[graft.io.Regime.serve]]
    * — the precomputable half of [[benchmarkOverlap]]. Benchmark suites
    * are FIXED artifacts (thousands of docs, extracted once, checked
    * against every ingest batch), so the set is extracted once per suite
    * and passed to [[benchmarkOverlapIndexed]].
    *
    * The real eval-suite case is driver-small and served as a
    * broadcast-hinted local relation. Past the bound a benchmark set
    * scaled like a corpus (billions of grams) must NEVER transit the
    * driver: it stays a persisted frame and the overlap join runs
    * un-hinted (AQE picks broadcast iff runtime size allows). Both
    * regimes are value-identical (CorpusSpec pins it under a forced
    * bound). */
  def benchmarkGramIndex(
      df: DataFrame, idCol: String, textCol: String,
      isBench: Column, n: Int, key: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.io.Regime.serve[Long](spark, key, "m")(decode = _.getLong(0), hint = true)(
      distinctGrams(df.filter(isBench), idCol, textCol, n).select(col("m")).distinct())
  }

  /** [[benchmarkOverlap]] against a PRE-EXTRACTED benchmark gram index
    * ([[benchmarkGramIndex]]): no benchmark re-scan per query. The
    * corpus side is one linear scan and a map-side-combinable per-doc
    * groupBy. */
  def benchmarkOverlapIndexed(
      df: DataFrame, idCol: String, textCol: String,
      isBench: Column, n: Int, index: DataFrame,
      corpusKey: Option[String] = None): DataFrame = {
    // the corpus gram stream is the other build-once half: within one
    // snapshot both the report (x22) and the gate (x42) read the same
    // exploded (id, gram-md5) projection, so `corpusKey` materializes it
    // once as a DISTRIBUTED checkpoint handle (executor blocks — never
    // driver state; the warm-serve shape of a curation pipeline that
    // materializes its tokenized corpus per snapshot)
    val corpusGrams = corpusKey match {
      case Some(k) => graft.io.ArtifactCache.getOrBuildFrame(k)(
        distinctGrams(df.filter(!isBench), idCol, textCol, n))
      case None => distinctGrams(df.filter(!isBench), idCol, textCol, n)
    }
    joinOverlap(corpusGrams, index)
  }

  def benchmarkOverlap(
      df: DataFrame, idCol: String, textCol: String,
      isBench: Column, n: Int): DataFrame = {
    // A/B'd round 5: packing the bench set into one broadcast ARRAY row
    // and intersecting per corpus row (array_intersect) halves the
    // fixture time, but Spark builds the membership hashset from the
    // array ONCE PER ROW — at a real benchmark suite's gram count
    // (millions) that is quadratic-ish per-row work. The broadcast hash
    // JOIN below builds its table once per task, and the groupBy(id)
    // exchange is small: exploded gram rows are doc-contiguous, so the
    // partial aggregation collapses them to ~1 row per doc before the
    // shuffle. This is the shape that survives 100 TB.
    joinOverlap(
      distinctGrams(df.filter(!isBench), idCol, textCol, n),
      broadcast(distinctGrams(df.filter(isBench), idCol, textCol, n)
        .select(col("m")).distinct()))
  }

  /** Shared tail of the overlap spellings: left-join the corpus gram
    * stream against the benchmark gram frame (which carries its own
    * broadcast hint when it is known small), roll up per document. */
  private def joinOverlap(corpusGrams: DataFrame, benchFrame: DataFrame): DataFrame =
    corpusGrams
      .join(benchFrame.withColumn("_hit", lit(1L)), Seq("m"), "left")
      .groupBy(col("id").as("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
      .withColumn("contamination",
        col("n_hits").cast("double") / col("n_grams").cast("double"))

  /** Corpus-wide duplicate-span signal (the CCNet-style "how much of this
    * document also appears elsewhere" score): per document, the fraction
    * of its DISTINCT n-grams whose 60-bit hash occurs in ≥ 2 distinct
    * documents.
    *
    * One combinable groupBy on the gram hash (8 bytes/row shuffled), one
    * hash join back — both linear in corpus size. The distinct per-doc
    * gram frame feeds the frequency count AND the join probe, so it is
    * persisted for the duration of the query. */
  def duplicateNgramStats(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Per-document DISTINCT gram hashes computed inside the row by the
    // native [[graft.functions.MinhashSigSet]] loop (numHashes=1 keeps
    // the signature side one mult-mod per gram), then exploded: (id, sh)
    // pairs are distinct by construction, no dedup shuffle. count(*) over
    // the sh window == distinct docs carrying the gram — one exchange,
    // where the groupBy+join-back spelling paid two plus a persist.
    val g = Dedup.tokenized(df, idCol, textCol)
      .filter(size(col("toks")) >= n)
      .select(col("id"),
        explode(graft.functions.MinhashSigSet(col("toks"), n, 1)
          .getField("shset")).as("sh"))
    g.withColumn("ndocs", count(lit(1)).over(Window.partitionBy("sh")))
      .groupBy(col("id").as("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("ndocs") >= 2, lit(1L)).otherwise(lit(0L))).as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast("double") / col("n_grams").cast("double"))
  }

  /** Distributed prefix sum over a totally-ordered UNIQUE integral key:
    * the global running total of `valueCol` in `sortCol` order, WITHOUT
    * the single-partition global window (`Window.orderBy` with no
    * partition moves the corpus to one task — the classic scale cliff).
    *
    * Two-phase scan over DETERMINISTIC key buckets: each row's bucket is
    * a pure function of its key (fixed-width ranges between the key's
    * min and max), so — unlike `repartitionByRange`, whose sampled
    * boundaries vary per job — the partials job and the caller's job
    * agree on membership with no persist pinning them together. Phase 1
    * reduces each bucket to one partial sum (≤ numBuckets rows to the
    * driver — constant-size, like a broadcast build) and scans them into
    * exclusive base offsets; phase 2 runs the within-bucket cumsum as a
    * parallel window and adds the bucket's offset. One data shuffle
    * (the window's hash exchange on the bucket id) per phase.
    *
    * `sortCol` must be unique (ties would make the running order, and so
    * the prefix sum, ill-defined on both engines) and integral — for a
    * timestamp or string key, project a monotone integral image first.
    * Fixed-width buckets trade range-sampling's skew adaptivity for
    * determinism; ids and offsets (the prefix-sum use cases) are
    * near-uniform, and 4× more buckets than shuffle partitions smooth
    * both bucket skew and the bucket→partition hash collisions.
    *
    * `cacheKey` (immutable inputs only — fixture dirs, snapshot paths)
    * amortizes the phase-1 bounds+partials jobs across repeated
    * constructions via [[graft.io.ArtifactCache]], the same contract as
    * the bloom-filter/centroid builds. Without it both jobs run eagerly
    * per construction. NULL values count as 0. */
  def prefixSum(
      df: DataFrame, sortCol: String, valueCol: String,
      outCol: String, cacheKey: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val v = coalesce(col(valueCol).cast("long"), lit(0L))
    val k = col(sortCol).cast("long")
    val nb = spark.sessionState.conf.numShufflePartitions * 4
    def cached[T <: AnyRef](part: String)(build: => T): T = cacheKey match {
      case Some(key) => graft.io.ArtifactCache.getOrBuild(s"$key:$part")(build)
      case None => build
    }
    val (mn, mx) = cached("bounds") {
      val r = df.agg(min(k), max(k)).head()
      if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    }
    // Bucket = the key's own high bits (arithmetic shift): monotone over
    // SIGNED longs, so bucket order == key order for the offset scan,
    // and — unlike a (k - min) rebase — no subtraction that could
    // overflow when the key range spans more than Long.MaxValue (a
    // 64-bit monotone hash image does; ANSI mode would throw). Width is
    // a power of two so the id is one exact shift (Column./ is DOUBLE
    // division — it would round keys past 2^53 into the wrong bucket);
    // the span is measured through BigInt for the same full-range
    // reason, and the shift caps the bucket-id count near nb.
    val span = BigInt(mx) - BigInt(mn)
    val nbBits = 63 - java.lang.Long.numberOfLeadingZeros(nb.toLong)
    // clamp to 63: Java/Spark shift semantics mask the amount (x >> 65
    // is x >> 1), so an uncapped full-range shift would WIDEN the id set
    val shift = math.min(63, math.max(0, span.bitLength - nbBits))
    val bucketed = df.withColumn("_pid", shiftright(k, shift))
    // shift is part of the key: bucket ids are the key's high bits UNDER
    // THIS SHIFT, and shift derives from the runtime-mutable shuffle
    // partition conf — offsets cached under one shift must never join
    // rows bucketed under another (silently wrong cumulative sums)
    val offsets = cached(s"offsets:$shift") {
      val partials = bucketed.groupBy("_pid").agg(sum(v).as("_psum"))
        .collect().map { r =>
          // a NULL key has no position in a total order — fail loud, not
          // with a bare NPE (the old range-partition spelling silently
          // placed such rows first, hiding the contract violation)
          require(!r.isNullAt(0),
            s"prefixSum: NULL $sortCol — the sort key must be a total order")
          r.getLong(0) -> r.getLong(1)
        }.sortBy(_._1).toIndexedSeq
      // exclusive prefix of the partial sums: bucket i's base offset is
      // the total of buckets before it (zip truncates the trailing total)
      partials.map(_._1).zip(partials.map(_._2).scanLeft(0L)(_ + _))
    }
    // broadcast join, not a per-bucket CASE chain: O(1) per row and
    // constant expression depth at any bucket count
    bucketed
      .withColumn("_local", sum(v).over(Window.partitionBy("_pid").orderBy(sortCol)))
      .join(broadcast(offsets.toDF("_pid", "_off")), Seq("_pid"))
      .withColumn(outCol, col("_local") + col("_off"))
      .drop("_pid", "_local", "_off")
  }

  /** C4-style boilerplate-line removal (the reference pipeline's quality
    * family, scaled to corpus statistics): drop every "line" that occurs
    * at least `minCount` times across the corpus, then rebuild each
    * document from its surviving lines in order. The public mechanic is
    * C4's line-level dedup (count exact-match units corpus-wide, remove
    * frequent ones, reassemble); the fixture's token-stream documents
    * have no newlines, so the unit here is a fixed-width token line
    * (`lineTokens` tokens, last line short) built row-locally with
    * sequence/slice — same mechanic, deterministic unit.
    *
    * Scale shape, two phases:
    *   1. counting — lines are hashed row-locally and ONE combinable
    *      groupBy counts 60-bit line hashes ([[Dedup.shingleHash60]]):
    *      the exchange carries 8-byte longs, never line text, and is
    *      linear in corpus size;
    *   2. rebuild — regime by MEASURED frequent-set size
    *      ([[graft.io.Regime.collectIfSmall]]). A real corpus's
    *      boilerplate set is small relative to the corpus (it is the
    *      *repeated* material), so the common regime filters each
    *      document row-locally against the collected hash set — zero
    *      additional shuffle, the corpus streams once. Past the bound
    *      the exploded lines left-join the frequent frame on hash and
    *      each doc reassembles with one groupBy (the only regime where
    *      line text must transit a shuffle, because the rebuild itself
    *      is distributed).
    *
    * Hash identity is the 60-bit md5 prefix (cross-engine reproducible;
    * collisions are discounted by the same gram-identity contract as
    * [[distinctGrams]] and x23's shingle counts).
    * Returns (id, clean_text, n_kept, n_dropped); every input document
    * appears (a fully-boilerplate doc keeps an empty clean_text).
    * `cacheKey` amortizes the frequent-set build per corpus snapshot. */
  def boilerplateLines(
      df: DataFrame, idCol: String, textCol: String,
      lineTokens: Int, minCount: Long,
      cacheKey: Option[String] = None): DataFrame = {
    require(lineTokens >= 1 && minCount >= 1, "lineTokens and minCount must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    def linesOf(text: Column): Column = {
      val toks = split(coalesce(text, lit("")), " ")
      transform(sequence(lit(1), size(toks), lit(lineTokens)),
        s => array_join(slice(toks, s, lit(lineTokens)), " "))
    }
    // ONE tokenize pass for the whole operator: counting, the
    // distributed hash-explode, and the rebuild all consume the same
    // projected lines frame. A lazy local checkpoint materializes it as
    // a side effect of the FIRST consumer's job (no separate barrier
    // job) and later consumers read the stored blocks — the raw corpus
    // is scanned and tokenized once, where the r10 spelling paid a full
    // re-tokenizing scan per phase (three at worst). The trade is one
    // corpus-sized copy on executor-local storage for the operator's
    // duration — the role cluster NVMe is provisioned for, and strictly
    // less I/O than the extra scans it replaces.
    val linesRaw = graft.util.Partitioning.fanOut(df)
      .select(col(idCol).as("id"), linesOf(col(textCol)).as("_lines"))
    lazy val linesCp = linesRaw.localCheckpoint(false)
    def freqOf: DataFrame =
      linesCp.select(explode(col("_lines")).as("line"))
        .groupBy(Dedup.shingleHash60(col("line")).as("lh"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= minCount)
        .select("lh")
    val key = cacheKey.getOrElse(s"boiler:anon:${System.identityHashCode(df)}")
    // warm-serve fast path: with the frequent set already cached, the
    // collected regime makes exactly ONE pass over the corpus — then
    // checkpoint storage would cost more than it saves, so skip it
    val cachedAlready = cacheKey.isDefined && graft.io.ArtifactCache.keys.contains(key)
    val artifact = frequentSet(key, cacheKey.isDefined, freqOf)
    artifact match {
      case Left(hashes) =>
        // row-local rebuild: the frequent set rides into the task as an
        // `InSet` hash set (GraftColumnBridge.inLongSet), so membership
        // is O(1) per line — the earlier array-literal probe was
        // O(|set|) per line, ~6e8 comparisons per pass at sf0.1 and the
        // whole warm-serve cost of the operator. Warm serve (artifact
        // cached) reads the raw projection — one pass, no checkpoint; a
        // cold build reads the blocks the counting pass just
        // materialized.
        (if (cachedAlready) linesRaw else linesCp)
          .select(col("id"), col("_lines"),
            filter(col("_lines"),
              l => !org.apache.spark.sql.GraftColumnBridge.inLongSet(
                Dedup.shingleHash60(l), hashes)).as("_kept"))
          .select(col("id"),
            array_join(col("_kept"), " ").as("clean_text"),
            size(col("_kept")).cast("long").as("n_kept"),
            (size(col("_lines")) - size(col("_kept"))).cast("long").as("n_dropped"))
      case Right(freq) =>
        // distributed rebuild, text never re-tokenized OR re-assembled:
        // per-doc line hashes derive from the checkpointed _lines
        // (8-byte exchanges), semi-join the frequent frame, fold each
        // doc's dropped hashes into one small set, then filter the
        // document ROW-LOCALLY against its own dropped set — order
        // preserved for free, no sort, no text reassembly. The only
        // exchange that could carry text is the final doc⋈dropped join,
        // and docs shuffle there only when the dropped map outgrows
        // AQE's broadcast threshold (at fixture scale it broadcasts).
        val ex = linesCp
          .select(col("id"),
            explode(transform(col("_lines"),
              l => Dedup.shingleHash60(l))).as("h"))
        val droppedPerDoc = ex
          .join(freq, col("h") === col("lh"), "left_semi")
          .groupBy("id").agg(collect_set(col("h")).as("_drop"))
        linesCp
          .join(droppedPerDoc, Seq("id"), "left")
          .select(col("id"), col("_lines"),
            filter(col("_lines"), l => !coalesce(
              array_contains(col("_drop"), Dedup.shingleHash60(l)),
              lit(false))).as("_kept"))
          .select(col("id"),
            array_join(col("_kept"), " ").as("clean_text"),
            size(col("_kept")).cast("long").as("n_kept"),
            (size(col("_lines")) - size(col("_kept"))).cast("long").as("n_dropped"))
    }
  }

  /** The frequent-hash set of [[boilerplateLines]] and [[scrubDupSpans]]
    * (one long column), dispatched by measured size: the collected
    * hashes under the Regime bound — driver code turns them into an
    * `InSet` — or the persisted frame above it. Persisted first so the
    * probe fills the blocks and the counting groupBy runs once whichever
    * regime wins; cached under `key` when `cached`. */
  private def frequentSet(key: String, cached: Boolean,
      freq: => DataFrame): Either[IndexedSeq[Long], DataFrame] = {
    def build = {
      val cp = freq.persist()
      graft.io.Regime.collectIfSmall(key, cp)
        .map { rows => cp.unpersist(); rows.map(_.getLong(0)) }
        .toLeft(cp)
    }
    if (cached) graft.io.ArtifactCache.getOrBuild(key)(build) else build
  }

  /** Duplicate-SPAN scrub — the published "deduplicating training data"
    * transform at n-gram granularity (Lee et al. 2022 remove duplicated
    * substrings from the kept documents, not just duplicated documents):
    * count sliding n-token grams corpus-wide, call a gram FREQUENT at
    * `minCount` occurrences, and delete every token covered by at least
    * one frequent-gram occurrence, reassembling each document from the
    * surviving tokens in order. [[boilerplateLines]] is the same
    * mechanic over disjoint fixed-width units; here the units OVERLAP
    * (stride 1), so removal is by position coverage, not unit identity —
    * a token survives only when none of the ≤n gram windows containing
    * it is frequent.
    *
    * Scale shape, two phases sharing ONE tokenize+md5 pass (the gram
    * hashes are computed once into the checkpointed projection; both the
    * counting exchange and the rebuild read them):
    *   1. counting — explode the per-doc gram-hash arrays and ONE
    *      combinable groupBy counts 60-bit hashes; the exchange carries
    *      8-byte longs, never gram text, linear in corpus token count;
    *   2. rebuild — regime by MEASURED frequent-set size
    *      ([[graft.io.Regime.collectIfSmall]]): under the bound each doc
    *      filters row-locally against the collected hash set (frequent
    *      START positions first, then one positional coverage scan —
    *      O(len·|starts|) per row, zero extra shuffle); past it the
    *      exploded (id, start, hash) triples semi-join the frequent
    *      frame, fold to one small per-doc start set, and the same
    *      row-local coverage filter runs against the joined set — the
    *      only shuffle that carries more than hashes is the final
    *      doc⋈starts join, and start sets are per-doc small by the same
    *      argument as [[boilerplateLines]]' dropped sets.
    *
    * Returns (id, clean_text, n_kept, n_removed); every input document
    * appears (a fully-duplicated doc keeps an empty clean_text).
    * `cacheKey` amortizes the frequent-set build per corpus snapshot. */
  def scrubDupSpans(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, minCount: Long,
      cacheKey: Option[String] = None): DataFrame = {
    require(n >= 1 && minCount >= 1, "n and minCount must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    // gram hashes computed ONCE into the projection both phases read;
    // sequence(1, 0) would descend, so short docs guard to an empty array
    def gramHashesOf(toks: Column): Column =
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - lit(n - 1)),
          s => Dedup.shingleHash60(array_join(slice(toks, s, lit(n)), " "))))
        .otherwise(array().cast("array<long>"))
    val toksRaw = graft.util.Partitioning.fanOut(df)
      .select(col(idCol).as("id"),
        split(coalesce(col(textCol), lit("")), " ").as("_toks"))
      .select(col("id"), col("_toks"), gramHashesOf(col("_toks")).as("_gh"))
    val key = cacheKey.getOrElse(s"dupspan:anon:${System.identityHashCode(df)}")
    // the tokenize+hash projection is itself a build-once serve-many
    // artifact (the production shape materializes the tokenized corpus
    // once per snapshot): cached as a DISTRIBUTED checkpoint handle —
    // executor blocks, never driver state — so a warm serve re-reads the
    // materialization instead of re-paying the corpus tokenize (the r17
    // warm-residue fix). Anonymous (uncached) calls keep a local
    // checkpoint for the duration of the query only.
    lazy val toksCp =
      if (cacheKey.isDefined)
        graft.io.ArtifactCache.getOrBuildFrame(s"$key:toks")(toksRaw)
      else toksRaw.localCheckpoint(false)
    def freqOf: DataFrame =
      toksCp.select(explode(col("_gh")).as("gh"))
        .groupBy("gh").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= minCount)
        .select("gh")
    val artifact = frequentSet(key, cacheKey.isDefined, freqOf)
    // row-local coverage rebuild against a per-row start set: position i
    // is removed when some frequent gram STARTS in [i-n+1, i]
    def rebuilt(src: DataFrame, startsOf: Column): DataFrame = src
      .withColumn("_starts", startsOf)
      .select(col("id"), col("_toks"),
        filter(
          sequence(lit(1), size(col("_toks"))),
          i => !exists(col("_starts"),
            s => s <= i && i <= s + lit(n - 1))).as("_keptPos"))
      .select(col("id"),
        array_join(
          transform(col("_keptPos"), i => element_at(col("_toks"), i)),
          " ").as("clean_text"),
        size(col("_keptPos")).cast("long").as("n_kept"),
        (size(col("_toks")) - size(col("_keptPos"))).cast("long").as("n_removed"))
    artifact match {
      case Left(hashes) =>
        // frequent set rides into the task as an `InSet` hash set — O(1)
        // per gram probe (bounded by the Regime row cap, same contract
        // and same upgrade as boilerplateLines' rebuild)
        // sequence(1, 0) DESCENDS — short docs (empty _gh) guard to an
        // empty start set instead
        rebuilt(
          toksCp,
          when(size(col("_gh")) > 0,
            filter(sequence(lit(1), size(col("_gh"))),
              s => org.apache.spark.sql.GraftColumnBridge.inLongSet(
                element_at(col("_gh"), s), hashes)))
            .otherwise(array().cast("array<int>")))
      case Right(freq) =>
        // distributed: (id, start, hash) triples semi-join the frequent
        // frame (8-byte exchange), fold to per-doc start sets, join back
        val ex = toksCp
          .select(col("id"), posexplode(col("_gh")).as(Seq("_p", "_h")))
          .select(col("id"), (col("_p") + 1).as("s"), col("_h"))
        val startsPerDoc = ex
          .join(freq, col("_h") === col("gh"), "left_semi")
          .groupBy("id").agg(collect_set(col("s")).as("_fstarts"))
        rebuilt(
          toksCp.join(startsPerDoc, Seq("id"), "left"),
          coalesce(col("_fstarts"), array().cast("array<int>")))
    }
  }

  /** End-to-end curation pass: quality gate → exact dedup (keep the
    * lowest id per distinct content) → fixed-window chunking — the "raw
    * corpus in, training chunks out" composition a data pipeline actually
    * runs, in one declarative plan Catalyst optimizes as a whole (the
    * quality filter fuses into the scan; dedup is the one shuffle, on the
    * 64-char content hash; chunking is a per-row generate).
    * Returns (doc_id, chunk_idx, chunk, n_tokens). */
  def curationPipeline(
      df: DataFrame, idCol: String, textCol: String,
      minQuality: Double, chunkSize: Int, stride: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fan the raw corpus out FIRST: the quality score is per-row HOF work
    // that would otherwise run single-threaded on a degenerate scan
    val kept = graft.util.Partitioning.fanOut(df)
      .filter(TextAnalysis.qualityScore(col(textCol)) >= minQuality)
    val deduped = kept
      .withColumn("_rk", row_number().over(
        Window.partitionBy(Dedup.textHash(col(textCol))).orderBy(col(idCol))))
      .filter(col("_rk") === 1)
      .drop("_rk")
    // ordered layout BEFORE the chunk generate (see Partitioning
    // .orderedFanOut): chunking emits chunk_idx ascending inside each
    // document and generates are narrow, so the output carries a total
    // (idCol, chunk_idx) order without a trailing sort — which would
    // re-execute the whole generate once more for range-boundary
    // sampling
    chunk(
      graft.util.Partitioning.orderedFanOut(deduped, col(idCol)),
      idCol, textCol, chunkSize, stride, fan = false)
  }

  /** Fixed-window token chunking with overlap — the training-window
    * splitter (context-length packing): chunk i covers tokens
    * [1 + i·stride, 1 + i·stride + chunkSize) and the last chunk may be
    * short; every document emits ≥ 1 chunk. Pure per-row expressions
    * (tokens are projected ONCE per document before slicing — see the
    * O(tokens²) note on [[Dedup.shinglesFromTokens]]), no shuffle.
    * Returns (doc_id, chunk_idx, chunk, n_tokens). */
  def chunk(
      df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int, fan: Boolean = true): DataFrame = {
    require(stride >= 1 && chunkSize >= 1, "chunkSize and stride must be >= 1")
    (if (fan) graft.util.Partitioning.fanOut(df) else df)
      // NULL text behaves as empty (one empty chunk) — posexplode over a
      // NULL sequence would emit zero rows and silently drop the document
      .select(col(idCol).as("doc_id"),
        split(coalesce(col(textCol), lit("")), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(1), size(col("toks")), lit(stride)))
          .as(Seq("chunk_idx", "start")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        array_join(slice(col("toks"), col("start"), lit(chunkSize)), " ").as("chunk"),
        size(slice(col("toks"), col("start"), lit(chunkSize))).cast("long").as("n_tokens"))
  }
}
