package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Thrown by [[LogTable.create]] when another writer claimed v1 first —
  * a dedicated type so create-or-upsert callers (e.g.
  * [[graft.etl.LogWarehouse.upsert]]) catch the RACE, not a message
  * substring that a rewording would silently break. Extends
  * IllegalStateException so pre-existing handlers keep working. */
final class TableAlreadyExistsException(table: String)
  extends IllegalStateException(
    s"create($table) raced another writer — the table already exists")

/** Minimal log-structured table format — the transaction-log shape the
  * K2/K3 keyed upsert needs once CONCURRENT writers exist (the r9
  * verdict's one remaining production gap: "at 100 TB concurrent
  * writers need a log, not a rename"). Public-knowledge design (the
  * Delta/Iceberg papers' core, at engine-appropriate scale): an
  * append-only commit log of JSON manifests names the live data-file
  * set; readers fold the log, writers commit OPTIMISTICALLY by
  * atomically creating the next version file.
  *
  * Layout:
  * {{{
  *   <table>/_log/v00000001.json    one immutable manifest per version
  *   <table>/data/<uuid>.parquet    immutable data files
  * }}}
  *
  * Manifest: `{"version":n,"adds":[{"file":f,"minKey":a,"maxKey":b,"rows":r}],
  * "removes":[f...]}`. Key stats over the table's primary-key column
  * ride in the manifest, so a keyed upsert REWRITES ONLY the files
  * whose [minKey, maxKey] intersects the incoming batch's key range —
  * at 100 TB the nightly delta touches a handful of files, never the
  * table (the same pruning contract as `Load.upsertParquetPartitioned`,
  * obtained from stats instead of directory layout).
  *
  * Concurrency: `Files.createFile` on the next version path is atomic
  * on a POSIX filesystem and fails if the file exists — that failure IS
  * the optimistic lock. A loser re-reads the log; if its removal set is
  * still live it simply re-commits at the new version, otherwise a
  * concurrent writer rewrote the same files and the whole upsert
  * re-runs against the fresh snapshot. (An object store deployment
  * swaps this one primitive for its conditional-put, exactly as Delta
  * does.)
  *
  * Crash safety: data files land BEFORE the manifest that references
  * them, and the log is never rewritten — a writer that dies mid-flight
  * leaves orphan data files no manifest names (invisible to every
  * reader, GC-able by listing data/ minus live files) and at worst a
  * fully-written manifest. Readers see version k or version k+1, never
  * a torn state.
  *
  * Time travel falls out of the fold: [[readVersion]] folds manifests
  * `<= v` — an audit reads yesterday's snapshot while today's upserts
  * land.
  */
object LogTable {

  /** Zero-copy hard link with the portable fallbacks every clone path
    * shares: an existing target is a racing clone's identical content
    * (sources are immutable), a filesystem without link support copies.
    * ONE definition — the four former inline copies drifted apart by
    * construction. */
  private def linkOrCopy(from: Path, to: Path): Unit =
    try Files.createLink(to, from)
    catch {
      case _: java.nio.file.FileAlreadyExistsException => ()
      case _: UnsupportedOperationException =>
        Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
    }

  /** One immutable data file. `minKey`/`maxKey` are the primary-key
    * stats every write path prunes on; `cols` generalizes them to
    * per-column [min, max] for every LONG-ENCODABLE column in the file
    * (the Delta/Iceberg data-skipping core): integral columns as their
    * values, TIMESTAMP as epoch micros, DATE as epoch days — the
    * parquet footer already carries all three in those encodings.
    * `colsD` carries DOUBLE/FLOAT bounds and `colsS` truncated STRING
    * bounds (ASCII-safe, see the bound policy in [[writeData]]).
    * The `graft-log` scan ([[graft.sources.v2.LogTableScanBuilder]])
    * prunes the file list on any of them from the manifest alone — zero
    * footer reads — and a z-order compaction turns its 2-D locality into
    * manifest-level skipping on both dimensions. A column that is
    * all-NULL in a file (or whose bounds fail the safety policy) carries
    * no entry (no stats → never pruned on — stats ADMIT, they never
    * guarantee). */
  final case class FileEntry(
      file: String, minKey: Long, maxKey: Long, rows: Long,
      cols: Map[String, (Long, Long)] = Map.empty,
      colsD: Map[String, (Double, Double)] = Map.empty,
      colsS: Map[String, (String, String)] = Map.empty,
      // per-column NULL counts (any type, absent = unknown): nullCount=0
      // prunes IS NULL scans, nullCount=rows prunes IS NOT NULL — the
      // Delta/Iceberg nullCount stat, decided from the manifest alone
      colsN: Map[String, Long] = Map.empty)

  /** One commit. `schema` is the writer's DataFrame schema (Spark
    * StructType JSON) — readers apply the LATEST committed schema to the
    * whole snapshot, so a commit that ADDS a column evolves the table
    * (older files surface the new column as typed NULLs) without any
    * per-file footer reads, and time travel reads each version under the
    * schema it was written with. Empty for pre-evolution manifests
    * (readers fall back to parquet inference).
    *
    * `checkpoint = true` marks a CONSOLIDATED manifest: its adds are the
    * complete live file set at its version, and the fold RESETS there —
    * manifests before it are redundant and [[truncateHistory]] deletes
    * them (the Delta checkpoint + log-retention mechanic).
    *
    * `keyCol` records the table's primary-key column (the column
    * minKey/maxKey describe) as a TABLE PROPERTY riding the log: write
    * paths that know the key commit it, [[tableKeyCol]] recovers it, and
    * key-agnostic entry points (the DSv2 write path, ops tooling)
    * default to it instead of asking the caller — a mismatched explicit
    * key fails loudly rather than committing stats that describe a
    * different column. Empty on pre-r11 manifests. */
  /** `txns` records streaming-writer progress as part of the commit
    * (the Delta SetTransaction mechanic): appId → highest epoch that
    * app has committed IN THIS MANIFEST. [[lastTxnEpoch]] folds the max
    * per app over the log, and a streaming epoch whose id is <= that
    * watermark is a REPLAY — skipped instead of re-appended, which is
    * what makes the graft-log streaming sink exactly-once across
    * micro-batch retries and driver restarts. Checkpoint manifests
    * carry the fold-to-date so truncated history never forgets an
    * app's watermark. */
  /** `ts` is the commit wall-clock (epoch millis, stamped at render):
    * the basis for `TIMESTAMP AS OF` time travel and history
    * observability. 0 on pre-r13 manifests — readers fall back to the
    * manifest file's mtime, the same best-effort answer Delta gives for
    * its legacy commits. */
  /** `dvs` records DELETION VECTORS added by this commit (merge-on-read
    * row-level ops, the Delta DV / Iceberg positional-delete mechanic
    * keyed by PRIMARY KEY instead of row position): data file name →
    * keys whose rows in THAT FILE are dead. The fold accumulates them
    * per live file; removing a file drops its vector (a rewrite purges
    * by construction); a checkpoint carries the fold-to-date. Readers
    * apply them as a broadcast anti-join on (file, key) —
    * [[readFiles]]. Bounded by [[DvMaxKeys]] per commit: vectors are
    * the SMALL-delta path, bulk deletes rewrite or drop files. */
  final case class Manifest(
      version: Long, adds: Seq[FileEntry], removes: Seq[String],
      schema: String = "", checkpoint: Boolean = false, keyCol: String = "",
      txns: Map[String, Long] = Map.empty, ts: Long = 0L,
      dvs: Map[String, Seq[Long]] = Map.empty,
      // user table properties SET by this commit (TBLPROPERTIES): the
      // table's property state is the FOLD of these maps over versions
      // ([[tableProps]]), an empty value is the UNSET tombstone, and
      // checkpoints carry the fold-to-date. Keys and values are
      // manifest-safe plain tokens by [[setProperties]]'s guard.
      props: Map[String, String] = Map.empty,
      // POSITIONAL deletion vectors: data file → sidecar-file names under
      // `_dv/`, each a serialized roaring bitmap of dead ROW POSITIONS in
      // that file (the Delta/Iceberg bitmap-DV design). Unlike `dvs` (key
      // sets, inline, budgeted by [[DvMaxKeys]]) these are O(rows-deleted)
      // BITS off-manifest, so bulk DELETE/MERGE stays merge-on-read with
      // no cap. Fold semantics mirror dvs exactly: sidecars accumulate per
      // file (bitmaps OR at read), a file's removal drops its vectors,
      // checkpoints carry the fold-to-date.
      dvp: Map[String, Seq[String]] = Map.empty)

  // ---- column mapping (RENAME COLUMN, Delta name-mode playbook) ----
  //
  // Invariant: DATA FILES AND MANIFEST STATS ALWAYS CARRY PHYSICAL
  // NAMES. The committed schema carries LOGICAL names; a field renamed
  // by [[renameColumn]] records its physical name as field METADATA
  // (key [[PhysicalNameKey]]), which versions atomically with the
  // schema — time travel to a pre-rename version reads under that
  // version's names with no mapping at all. Readers project physical →
  // logical at the end of the scan ([[readFiles]]); writers project
  // logical → physical before the parquet write ([[writeData]]), so
  // every file ever written agrees on physical names and a rename
  // rewrites ZERO data files.

  private[graft] val PhysicalNameKey = "graft.physical"

  private[graft] def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  /** logical → physical for every field whose names differ (empty on
    * never-renamed tables — every mapping consumer's fast path). */
  private[graft] def mappingOf(
      schema: Option[org.apache.spark.sql.types.StructType]): Map[String, String] =
    schema.map(_.fields.iterator.collect {
      case f if physicalName(f) != f.name => f.name -> physicalName(f)
    }.toMap).getOrElse(Map.empty)

  /** Re-attach rename-mapping metadata to a schema DERIVED from frames
    * (union/select outputs drop field metadata): without this, an
    * append/upsert after a rename would commit a mapping-less schema
    * and the next read would look for logical names in physical files
    * — typed NULLs where the data is. Fields the snapshot doesn't map
    * (including genuinely new ones) pass through untouched. */
  private def restampMapping(
      snapSchema: Option[org.apache.spark.sql.types.StructType],
      derived: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    snapSchema match {
      case Some(sc) =>
        val mapped = sc.fields.iterator
          .filter(_.metadata.contains(PhysicalNameKey))
          .map(f => f.name -> f.metadata).toMap
        if (mapped.isEmpty) derived
        else org.apache.spark.sql.types.StructType(derived.fields.map(f =>
          mapped.get(f.name).map(md => f.copy(metadata = md)).getOrElse(f)))
      case None => derived
    }

  private def logDir(table: String): Path = Paths.get(table, "_log")
  private[graft] def dataDir(table: String): Path = Paths.get(table, "data")
  private def versionPath(table: String, v: Long): Path =
    logDir(table).resolve(f"v$v%08d.json")

  // ---- manifest (de)serialization: flat JSON, no library dependency ----

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  private[io] def render(m: Manifest): String = {
    val adds = m.adds.map { a =>
      val cols =
        if (a.cols.isEmpty) ""
        else a.cols.toSeq.sortBy(_._1)
          .map { case (c, (lo, hi)) => s""""${esc(c)}":[$lo,$hi]""" }
          .mkString(""","cols":{""", ",", "}")
      // Double.toString round-trips exactly through parseDouble; writeData
      // never admits NaN/Infinity, so the rendered token is always a legal
      // JSON number
      val colsD =
        if (a.colsD.isEmpty) ""
        else a.colsD.toSeq.sortBy(_._1)
          .map { case (c, (lo, hi)) => s""""${esc(c)}":[$lo,$hi]""" }
          .mkString(""","colsD":{""", ",", "}")
      // string bounds are ASCII-printable with JSON/regex-structural
      // characters excluded at the source (writeData's bound policy), so
      // esc() is belt-and-braces, not load-bearing
      val colsS =
        if (a.colsS.isEmpty) ""
        else a.colsS.toSeq.sortBy(_._1)
          .map { case (c, (lo, hi)) => s""""${esc(c)}":["${esc(lo)}","${esc(hi)}"]""" }
          .mkString(""","colsS":{""", ",", "}")
      val colsN =
        if (a.colsN.isEmpty) ""
        else a.colsN.toSeq.sortBy(_._1)
          .map { case (c, n) => s""""${esc(c)}":$n""" }
          .mkString(""","colsN":{""", ",", "}")
      s"""{"file":"${esc(a.file)}","minKey":${a.minKey},"maxKey":${a.maxKey},"rows":${a.rows}$cols$colsD$colsS$colsN}"""
    }.mkString("[", ",", "]")
    val removes = m.removes.map(f => s""""${esc(f)}"""").mkString("[", ",", "]")
    val ckpt = if (m.checkpoint) ""","checkpoint":true""" else ""
    val key = if (m.keyCol.isEmpty) "" else s""","keyCol":"${esc(m.keyCol)}""""
    // app ids are caller-supplied strings: esc() plus the escape-aware
    // parse pattern keep an exotic id from terminating the block
    val txns =
      if (m.txns.isEmpty) ""
      else m.txns.toSeq.sortBy(_._1)
        .map { case (app, e) => s""""${esc(app)}":$e""" }
        .mkString(""","txns":{""", ",", "}")
    // ts (commit wall-clock) is stamped by the WRITERS, never invented
    // here — render stays a pure function of the Manifest (the
    // round-trip property depends on it). FIRST after version, and the
    // parse regex is anchored there, so a stats COLUMN named "ts" can
    // never alias it.
    val ts = if (m.ts > 0L) s""","ts":${m.ts}""" else ""
    // dvs entries are file-name → sorted key array; file names are
    // engine-minted UUIDs (no quotes/braces), keys are JSON numbers —
    // the object never nests braces, so the non-greedy parse is exact
    val dvs =
      if (m.dvs.isEmpty) ""
      else m.dvs.toSeq.sortBy(_._1)
        .map { case (f, ks) =>
          s""""${esc(f)}":${ks.sorted.mkString("[", ",", "]")}""" }
        .mkString(""","dvs":{""", ",", "}")
    // dvp entries are file name → sidecar-name ARRAY (engine-minted
    // UUIDs both sides — no quotes/braces); string-array values keep the
    // pattern distinct from dvs' number arrays, and the brace anchor
    // skips same-named stats keys exactly as for dvs
    val dvp =
      if (m.dvp.isEmpty) ""
      else m.dvp.toSeq.sortBy(_._1)
        .map { case (f, ss) =>
          s""""${esc(f)}":${ss.sorted.map(s => s""""${esc(s)}"""").mkString("[", ",", "]")}""" }
        .mkString(""","dvp":{""", ",", "}")
    // props entries are manifest-safe plain tokens (setProperties
    // guards both keys and values), so the flat object parse is exact;
    // the brace-anchored pattern can never match an adds-block stats key
    // of the same name (those render as arrays or numbers)
    val props =
      if (m.props.isEmpty) ""
      else m.props.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
        .mkString(""","props":{""", ",", "}")
    // schema LAST: its value is itself JSON-with-quotes (escaped), and
    // the adds/removes block regexes below must never scan past into it
    s"""{"version":${m.version}$ts,"adds":$adds,"removes":$removes$ckpt$key$txns$dvs$dvp$props,"schema":"${esc(m.schema)}"}"""
  }

  private[io] def parse(json: String): Manifest = {
    // the engine writes every manifest it reads (adds/removes strings are
    // uuid file names — no embedded quotes), so a field-regex parse is
    // exact here; the schema field is an escaped JSON string and gets an
    // escape-aware pattern
    def longField(o: String, k: String): Long =
      s""""$k":(-?\\d+)""".r.findFirstMatchIn(o).get.group(1).toLong
    val version = longField(json, "version")
    val addsBlock = """"adds":\[(.*?)\],"removes"""".r
      .findFirstMatchIn(json).get.group(1)
    // one level of nesting: each add object may carry flat {"col":[lo,hi]}
    // stats objects (cols / colsD / colsS)
    def unesc(s: String) = s.replace("\\\"", "\"").replace("\\\\", "\\")
    val adds = """\{(?:[^{}]|\{[^{}]*\})*\}""".r.findAllIn(addsBlock).map { o =>
      val cols = """"cols":\{(.*?)\}""".r.findFirstMatchIn(o).map(_.group(1))
        .map { block =>
          """"((?:[^"\\]|\\.)+)":\[(-?\d+),(-?\d+)\]""".r.findAllMatchIn(block)
            .map(m => unesc(m.group(1)) -> (m.group(2).toLong, m.group(3).toLong))
            .toMap
        }.getOrElse(Map.empty[String, (Long, Long)])
      val colsD = """"colsD":\{(.*?)\}""".r.findFirstMatchIn(o).map(_.group(1))
        .map { block =>
          """"((?:[^"\\]|\\.)+)":\[([^,\]]+),([^,\]]+)\]""".r.findAllMatchIn(block)
            .map(m => unesc(m.group(1)) ->
              (m.group(2).toDouble, m.group(3).toDouble))
            .toMap
        }.getOrElse(Map.empty[String, (Double, Double)])
      val colsS = """"colsS":\{(.*?)\}""".r.findFirstMatchIn(o).map(_.group(1))
        .map { block =>
          """"((?:[^"\\]|\\.)+)":\["((?:[^"\\]|\\.)*)","((?:[^"\\]|\\.)*)"\]""".r
            .findAllMatchIn(block)
            .map(m => unesc(m.group(1)) -> (unesc(m.group(2)), unesc(m.group(3))))
            .toMap
        }.getOrElse(Map.empty[String, (String, String)])
      val colsN = """"colsN":\{(.*?)\}""".r.findFirstMatchIn(o).map(_.group(1))
        .map { block =>
          """"((?:[^"\\]|\\.)+)":(\d+)""".r.findAllMatchIn(block)
            .map(m => unesc(m.group(1)) -> m.group(2).toLong)
            .toMap
        }.getOrElse(Map.empty[String, Long])
      FileEntry(""""file":"([^"]*)"""".r.findFirstMatchIn(o).get.group(1),
        longField(o, "minKey"), longField(o, "maxKey"), longField(o, "rows"),
        cols, colsD, colsS, colsN)
    }.toSeq
    val removesBlock = """"removes":\[(.*?)\]""".r
      .findFirstMatchIn(json).get.group(1)
    val removes = """"([^"]*)"""".r.findAllMatchIn(removesBlock).map(_.group(1)).toSeq
    // schema anchors to the LAST match: render always places it as the
    // final field, after props — so even a (now-refused, but possibly
    // pre-existing) stored property named "schema" can't alias it
    val schema = """"schema":"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(json)
      .foldLeft(Option.empty[String])((_, m) => Some(m.group(1)))
      .map(_.replace("\\\"", "\"").replace("\\\\", "\\"))
      .getOrElse("")
    val keyCol = """"keyCol":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(json)
      .map(m => unesc(m.group(1))).getOrElse("")
    // txns can only appear at the top level (stats-key filtering bars a
    // column named "txns" from the adds block, and no stats shape is
    // object-valued anyway)
    val txns = """"txns":\{(.*?)\}""".r.findFirstMatchIn(json)
      .map(_.group(1)).map { block =>
        """"((?:[^"\\]|\\.)+)":(-?\d+)""".r.findAllMatchIn(block)
          .map(m => unesc(m.group(1)) -> m.group(2).toLong).toMap
      }.getOrElse(Map.empty[String, Long])
    // anchored at the head (render places ts right after version), so a
    // stats key named "ts" deeper in the adds block can never alias it
    val ts = """^\{"version":-?\d+,"ts":(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(0L)
    // dvs is the only top-level field whose entries are ARRAY-valued
    // inside an object — an adds-block stats key named "dvs" renders as
    // "dvs":[lo,hi] or "dvs":123 and can never match the `{`-anchored
    // pattern here
    val dvs = """"dvs":\{(.*?)\}""".r.findFirstMatchIn(json)
      .map(_.group(1)).map { block =>
        """"((?:[^"\\]|\\.)+)":\[([^\]]*)\]""".r.findAllMatchIn(block)
          .map(m => unesc(m.group(1)) ->
            (if (m.group(2).isEmpty) Seq.empty[Long]
             else m.group(2).split(",").toSeq.map(_.trim.toLong)))
          .toMap
      }.getOrElse(Map.empty[String, Seq[Long]])
    // props: flat string-valued object at top level only — the
    // brace-anchored pattern skips adds-block stats keys of the same
    // name (array/number forms) and the escaped schema string (whose
    // quotes are all \" — the raw-quote anchor never matches inside it)
    val props = """"props":\{(.*?)\}""".r.findFirstMatchIn(json)
      .map(_.group(1)).map { block =>
        """"((?:[^"\\]|\\.)+)":"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(block)
          .map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
      }.getOrElse(Map.empty[String, String])
    // dvp: file → string-array of sidecar names; the `["`-anchored value
    // pattern can never match dvs' number arrays or stats shapes
    val dvp = """"dvp":\{(.*?)\}""".r.findFirstMatchIn(json)
      .map(_.group(1)).map { block =>
        """"((?:[^"\\]|\\.)+)":\[([^\]]*)\]""".r.findAllMatchIn(block)
          .map(m => unesc(m.group(1)) ->
            (if (m.group(2).isEmpty) Seq.empty[String]
             else """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(m.group(2))
               .map(x => unesc(x.group(1))).toSeq))
          .toMap
      }.getOrElse(Map.empty[String, Seq[String]])
    Manifest(version, adds, removes, schema,
      checkpoint = json.contains(""""checkpoint":true"""), keyCol = keyCol,
      txns = txns, ts = ts, dvs = dvs, props = props, dvp = dvp)
  }

  // dev-loop probe (Profile kdetail): how many log folds does a
  // statement pay, and what do they cost in wall time?
  private[graft] val foldCalls = new java.util.concurrent.atomic.AtomicLong()
  private[graft] val foldNanos = new java.util.concurrent.atomic.AtomicLong()
  /** Probe counter: number of [[changes]] calls served by the
    * delta-proportional append+DV-delete path (never the snapshot
    * diff). Spec-observable so tests can pin WHICH path served a
    * window, not just that the rows came out right. */
  private[graft] val cdcDeltaServes = new java.util.concurrent.atomic.AtomicLong()

  /** Parse cache for committed manifests. A vNNNNNNNN.json is immutable
    * once its CAS rename lands — with ONE exception: [[truncateHistory]]
    * atomically REPLACES v{cut}.json with the consolidated checkpoint,
    * so that path purges its cache entries explicitly
    * ([[uncacheManifest]]) rather than leaning on the (size, mtime) key
    * alone. Everywhere else memoizing (path, size, mtime) → parsed
    * Manifest is safe: the fold below is still driven by the CURRENT
    * directory listing, so deleted manifests drop out naturally and a
    * table recreated at the same path misses the cache on size/mtime.
    * This matters because every verb re-folds the log several times per
    * statement (read, schema probe, DV state, commit validation) — at
    * 10+ versions that was 12-40 regex parses of the same bytes per
    * statement (measured 20-60 ms). Capacity-bounded by wholesale clear:
    * bench/test churn creates many short-lived temp tables and an LRU
    * buys nothing at this entry cost. */
  private case class ManifestKey(path: String, size: Long, mtimeNanos: Long)
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[ManifestKey, Manifest]()
  private val ManifestCacheMax = 8192
  private def cachedParse(p: Path): Manifest = {
    val attrs =
      try Files.readAttributes(
        p, classOf[java.nio.file.attribute.BasicFileAttributes])
      catch { case _: java.io.IOException => null }
    if (attrs == null) return parse(Files.readString(p))
    val key = ManifestKey(
      p.toAbsolutePath.toString, attrs.size(),
      attrs.lastModifiedTime().to(java.util.concurrent.TimeUnit.NANOSECONDS))
    if (manifestCache.size > ManifestCacheMax) manifestCache.clear()
    manifestCache.computeIfAbsent(key, _ => parse(Files.readString(p)))
  }

  /** Drop every cached parse of `p` — REQUIRED after the one operation
    * that rewrites a manifest path in place ([[truncateHistory]]'s
    * checkpoint replace); the (size, mtime) key would otherwise be the
    * only guard against serving the pre-checkpoint delta as the
    * checkpoint, and that guard is probabilistic, not structural. */
  private def uncacheManifest(p: Path): Unit = {
    val abs = p.toAbsolutePath.toString
    manifestCache.keySet.removeIf(_.path == abs)
  }

  /** Drop every cached parse under `table`'s log dir — run by the v1
    * claim paths ([[create]]/[[createEmpty]]/[[cloneTable]]). The (path,
    * size, mtimeNanos) key is only PROBABILISTIC against out-of-band
    * rm-and-recreate at the same path: file mtimes come from the coarse
    * clock (ms granularity) and manifests are largely fixed-width, so a
    * recreated table whose same-size v1 lands within a tick could serve
    * the old table's parse. Creation is the structural seam every
    * recreate passes through, so purging here makes the guard exact for
    * the cost of one keySet sweep per create. */
  private def uncacheTable(table: String): Unit = {
    val prefix = logDir(table).toAbsolutePath.toString + "/"
    manifestCache.keySet.removeIf(_.path.startsWith(prefix))
  }

  private def manifests(table: String): Seq[Manifest] = {
    val t0 = System.nanoTime()
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) return Seq.empty
    val it = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala
        .filter(p => p.getFileName.toString.matches("v\\d{8}\\.json"))
        .toSeq.sortBy(_.getFileName.toString)
        .map(cachedParse)
    } finally {
      it.close()
      foldCalls.incrementAndGet()
      foldNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  /** Live file entries at `asOf` (or the head when None): fold the log. */
  private def live(table: String, asOf: Option[Long]): Seq[FileEntry] =
    snapshotAt(table, asOf)._2

  /** (version, live files) from ONE log listing — writers must pin BOTH
    * together: a version read after the file fold opens a TOCTOU window
    * where an intervening commit slips between them unvalidated (caught
    * by LogTableSpec's conflicting-upsert test). */
  private def snapshotAt(table: String, asOf: Option[Long]): (Long, Seq[FileEntry]) = {
    val (v, fs, _) = snapshotWithSchema(table, asOf)
    (v, fs)
  }

  private[graft] def snapshotWithSchema(
      table: String, asOf: Option[Long])
      : (Long, Seq[FileEntry], Option[org.apache.spark.sql.types.StructType]) = {
    val ms = manifests(table).filter(m => asOf.forall(m.version <= _))
    val folded = scala.collection.mutable.LinkedHashMap.empty[String, FileEntry]
    ms.foreach { m =>
      // a checkpoint manifest IS the complete state at its version: the
      // fold resets, so deleted predecessors are never missed
      if (m.checkpoint) folded.clear()
      m.removes.foreach(folded.remove)
      m.adds.foreach(a => folded(a.file) = a)
    }
    // the LATEST schema at-or-before asOf governs the whole snapshot:
    // schema evolution is a property of the log position, not the files
    val schema = ms.reverse.iterator.map(_.schema).find(_.nonEmpty).map { j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
    (ms.lastOption.map(_.version).getOrElse(0L), folded.values.toSeq, schema)
  }

  /** Live deletion vectors at `asOf` (head when None): fold of the
    * manifests' dvs maps, restricted to files still live — removing a
    * file (rewrite, range delete, compaction, restore) drops its vector
    * in the same fold step, so a rewrite IS the purge. */
  /** The [[liveDvs]]/[[livePosDvs]] fold over PRE-PARSED manifests: both
    * vector families walk the identical live-file bookkeeping, so one
    * pass computes both — the callers below differ only in whether they
    * re-list the log (the single-listing [[liveDvState]] is the hot
    * path; every extra variant was a full JSON-regex parse of every
    * manifest per read). */
  private def dvFold(ms: Seq[Manifest])
      : (Map[String, Seq[Long]], Map[String, Seq[String]]) = {
    val accK = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashSet[Long]]
    val accP = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashSet[String]]
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    ms.foreach { m =>
      if (m.checkpoint) { accK.clear(); accP.clear(); live.clear() }
      m.removes.foreach { f => accK.remove(f); accP.remove(f); live.remove(f) }
      m.adds.foreach(a => live.add(a.file))
      m.dvs.foreach { case (f, ks) =>
        accK.getOrElseUpdate(f,
          scala.collection.mutable.LinkedHashSet.empty) ++= ks
      }
      m.dvp.foreach { case (f, ss) =>
        accP.getOrElseUpdate(f,
          scala.collection.mutable.LinkedHashSet.empty) ++= ss
      }
    }
    (accK.iterator.collect {
      case (f, s) if live.contains(f) => f -> (s.toSeq: Seq[Long]) }.toMap,
      accP.iterator.collect {
        case (f, s) if live.contains(f) => f -> (s.toSeq: Seq[String]) }.toMap)
  }

  private[graft] def liveDvs(
      table: String, asOf: Option[Long]): Map[String, Seq[Long]] =
    dvFold(manifests(table).filter(m => asOf.forall(m.version <= _)))._1

  /** Live POSITIONAL deletion vectors at `asOf` (head when None): the
    * [[liveDvs]] fold over the manifests' `dvp` maps — sidecar names
    * accumulate per file, a file's removal (rewrite/compaction/restore)
    * drops its vectors in the same step. */
  private[graft] def livePosDvs(
      table: String, asOf: Option[Long]): Map[String, Seq[String]] =
    dvFold(manifests(table).filter(m => asOf.forall(m.version <= _)))._2

  /** The COMPLETE live deletion-vector state of a snapshot: per-file dead
    * KEY sets (small-delta verbs, inline in manifests) and per-file
    * POSITIONAL sidecars (bulk verbs, roaring bitmaps under `_dv/`). A
    * row is dead when EITHER marks it. Typed as one carrier so every
    * read path handles both by construction — [[readFiles]] refuses to
    * compile against half the state. */
  private[graft] final case class DvState(
      keys: Map[String, Seq[Long]], pos: Map[String, Seq[String]]) {
    def isEmpty: Boolean = keys.isEmpty && pos.isEmpty
  }
  private[graft] object DvState {
    val empty: DvState = DvState(Map.empty, Map.empty)
  }
  private[graft] def liveDvState(table: String, asOf: Option[Long]): DvState = {
    val (ks, ps) = dvFold(manifests(table).filter(m => asOf.forall(m.version <= _)))
    DvState(ks, ps)
  }

  /** Positional-vector sidecar directory (sibling of `data/` and
    * `_log/`). Sidecars are immutable once referenced; a sidecar of a
    * removed file becomes invisible through the fold and is swept by
    * [[vacuum]] once NO manifest references it. */
  private[graft] def dvDir(table: String): Path =
    Paths.get(table).resolve("_dv")

  /** Serialize one dead-position bitmap to a fresh sidecar under `_dv/`;
    * returns the sidecar name for the manifest's dvp entry. Executor- or
    * driver-side (plain file IO, engine-minted UUID name — same
    * crash-invisibility story as staged data parts: unreferenced
    * sidecars are invisible and vacuumable). */
  private[graft] def writePosDvSidecar(
      table: String, bm: org.roaringbitmap.longlong.Roaring64Bitmap): String = {
    Files.createDirectories(dvDir(table))
    val name = s"dv-${java.util.UUID.randomUUID()}.bin"
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(
        Files.newOutputStream(dvDir(table).resolve(name))))
    try { bm.runOptimize(); bm.serialize(out) } finally out.close()
    name
  }

  /** Load and OR a set of sidecars into one bitmap. Missing-file reads
    * fail loudly — a referenced sidecar that is gone means external
    * deletion of live table state, never a condition to mask. */
  private[graft] def loadPosDv(
      table: String, names: Seq[String]): org.roaringbitmap.longlong.Roaring64Bitmap = {
    val acc = new org.roaringbitmap.longlong.Roaring64Bitmap()
    names.foreach { n =>
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(
          Files.newInputStream(dvDir(table).resolve(n))))
      try {
        val one = new org.roaringbitmap.longlong.Roaring64Bitmap()
        one.deserialize(in)
        acc.or(one)
      } finally in.close()
    }
    acc
  }

  /** Per-commit deletion-vector key budget: vectors are the SMALL-delta
    * merge-on-read path (a 10-key MERGE must not rewrite 10 GB); a batch
    * above this belongs on the copy-on-write verbs, whose cost is
    * proportional to the files touched, not the manifest. Env-tunable
    * for deployments with bigger manifolds. */
  private[graft] def DvMaxKeys: Int =
    sys.props.get("graft.dv.maxKeys").map(_.toInt).getOrElse(10000)

  /** ACCUMULATION guard for the DV write verbs: the per-commit budget
    * bounds each delta, but a long run of merge-on-read commits against
    * the same file accumulates vectors without bound — every read then
    * drags the whole fold, the published formats' known DV failure mode,
    * with compaction as the documented answer. Refuse LOUDLY past 4× the
    * per-commit budget per file instead of degrading silently. */
  private def requireDvBudget(
      table: String, snapVersion: Long, dvAdds: Map[String, Seq[Long]],
      op: String): Unit = {
    if (dvAdds.isEmpty) return
    val acc = liveDvs(table, Some(snapVersion))
    val cap = DvMaxKeys * 4L
    dvAdds.foreach { case (f, ks) =>
      val total = acc.get(f).map(_.size.toLong).getOrElse(0L) + ks.size
      if (total > cap) throw new IllegalStateException(
        s"$op($table): file $f would accumulate $total dead keys " +
          s"(> $cap = 4x the per-commit budget) — compact() the table to " +
          "purge its vectors before more merge-on-read commits")
    }
  }

  /** Current committed version, 0 for an empty/absent table. */
  def version(table: String): Long =
    manifests(table).lastOption.map(_.version).getOrElse(0L)

  /** The table's recorded primary-key column (the latest committed
    * `keyCol` table property), None for pre-r11 logs. */
  def tableKeyCol(table: String): Option[String] =
    manifests(table).reverse.iterator.map(_.keyCol).find(_.nonEmpty)

  /** USER table properties at `asOf` (head when None): the fold of the
    * manifests' props maps, later commit wins per key, empty values are
    * UNSET tombstones (filtered out of the answer). Checkpoints carry
    * the fold-to-date, so history truncation never forgets a property.
    * The computed surface (keyCol/format/version) lives beside these in
    * the connector's `properties()`, never here. */
  def tableProps(
      table: String, asOf: Option[Long] = None): Map[String, String] =
    manifests(table).filter(m => asOf.forall(m.version <= _))
      .foldLeft(Map.empty[String, String])((acc, m) => acc ++ m.props)
      .filter(_._2.nonEmpty)

  /** `ALTER TABLE SET/UNSET TBLPROPERTIES` as ONE metadata-only commit:
    * `set` entries land, `unset` keys tombstone (an unknown unset key is
    * the SQL no-op), and the fold serves the merged state. Keys and
    * values must be manifest-safe plain tokens (same character policy as
    * streaming app ids — the flat manifest parse depends on it), and the
    * computed property names refuse (they are derived, not stored). */
  private def validateProps(
      table: String, set: Map[String, String], unset: Seq[String]): Unit = {
    // Two bans in one set: computed properties (derived from the log,
    // never stored) AND every top-level manifest field name the render
    // emits — a stored property named "schema" would render inside the
    // props object AHEAD of the real trailing schema field and alias the
    // field-regex parse (same for adds/removes/checkpoint/txns/dvs/props/
    // ts). The parse also self-defends (schema anchors to the LAST
    // match), but old manifests predate that, so refuse at the source.
    val reserved = Set("keycol", "format", "version", "provider", "location",
      "schema", "adds", "removes", "checkpoint", "txns", "dvs", "dvp",
      "props", "ts")
    def safe(s: String, what: String): Unit =
      require(!s.exists(c => "{}[]\":,\\".contains(c) || c < 0x20),
        s"table properties on $table: $what '$s' carries JSON-structural " +
          "or control characters — use plain tokens")
    (set.keys ++ unset).foreach { k =>
      require(k.nonEmpty, s"table properties on $table: empty property key")
      safe(k, "key")
    }
    // The reserved ban applies to SET only: UNSET of a reserved name is
    // the REMEDIATION for a legacy property stored before the ban (its
    // tombstone is rendered inside the props object, structurally safe),
    // so refusing it would make such a table unfixable forever.
    set.keys.foreach { k =>
      require(!reserved(k.toLowerCase(java.util.Locale.ROOT)),
        s"table properties on $table: '$k' is a computed table property " +
          "or a manifest structural field name (derived/reserved, never " +
          "stored)")
    }
    set.foreach { case (k, v) =>
      require(v.nonEmpty,
        s"table properties on $table: empty value for '$k' — UNSET removes keys")
      safe(v, "value")
      // constraint values must parse NOW (CREATE TABLE path included):
      // storing an undecidable expression would fail every later write
      if (k.startsWith(ConstraintPrefix))
        require(Constraint.parse(v).isDefined,
          s"table properties on $table: '$k' = '$v' is outside the " +
            s"footer-decidable constraint grammar (${Constraint.Grammar})")
    }
  }

  // ---- write-time table constraints (NOT NULL / range CHECK) ----------
  //
  // Persisted as ordinary TBLPROPERTIES under the `constraint.<name>`
  // prefix (the fold/UNSET/checkpoint/clone semantics come for free) and
  // ENFORCED FROM FOOTER STATS at every commit that adds files — the
  // same zero-read pass that enforces the key rule. The supported
  // grammar is exactly the footer-decidable family:
  //
  //   <col> IS NOT NULL                  (null counts prove compliance)
  //   <col> >= <int> | <col> <= <int> | <col> BETWEEN <int> AND <int>
  //     (manifest [min,max] are EXACT non-null extremes for long-encoded
  //      columns, so range checks decide exactly; NULLs pass a CHECK per
  //      SQL semantics — an all-null file complies)
  //   <col> >= <dec> | <col> <= <dec> | <col> BETWEEN <dec> AND <dec>
  //     (decimal-point literals target DOUBLE/FLOAT columns via colsD —
  //      exact where stats exist; a NaN/Infinity-bearing file has NO
  //      colsD entry, so it refuses: the stats layer's admission rule)
  //   <col> >= '<str>' | <col> <= '<str>' | <col> BETWEEN '<s>' AND '<s>'
  //     (quoted ASCII literals target STRING columns via the
  //      truncate+successor colsS bounds — conservative: stored lower <=
  //      true min and stored upper >= true max, so passing PROVES the
  //      range while a truncated bound may over-refuse; e.g. the orders
  //      status domain lands as status BETWEEN 'F' AND 'P'. IN (...) is
  //      NOT in the family — [min,max] cannot prove a non-contiguous set)
  //
  // Anything else refuses at SET time with this grammar in the message:
  // a constraint the stats cannot decide would force a data read on
  // every commit, which is the wrong trade at 100 TB (Delta evaluates
  // CHECKs in the write job; this format's writers already produce the
  // footer pass, so stats-decidable constraints are free). A file whose
  // stats cannot PROVE compliance (stats-less or unknown null count)
  // refuses loudly — same conservatism as the key rule.
  private[graft] sealed trait Constraint { def col: String }
  private[graft] object Constraint {
    final case class NotNull(col: String) extends Constraint
    final case class Range(col: String, lo: Option[Long], hi: Option[Long])
      extends Constraint
    // DOUBLE literals are spelled with a decimal point (that is what
    // routes them here instead of Range); decisions against colsD are
    // EXACT where stats exist, and a file containing NaN/±Infinity has
    // NO colsD entry (the stats layer's admission rule) so it refuses —
    // conservative, and the only sound answer since NaN breaks ordering.
    final case class DblRange(col: String, lo: Option[Double], hi: Option[Double])
      extends Constraint
    // STRING bounds are single-quoted, manifest-safe ASCII (the same
    // character policy as the stored bounds). Proofs are conservative
    // against the truncate+successor colsS bounds: stored lower <= true
    // min and stored upper >= true max, so lower >= lo / upper <= hi
    // PROVE the range; a truncated successor may over-refuse a long
    // value near the bound — safe, never wrong. `IN (...)` is
    // deliberately NOT in the family: [min,max] cannot prove a
    // non-contiguous set (Delta decides IN with a per-row pass in the
    // write job — the wrong trade here); spell the convex hull as
    // BETWEEN, e.g. status BETWEEN 'F' AND 'P'.
    final case class StrRange(col: String, lo: Option[String], hi: Option[String])
      extends Constraint
    private val NotNullRe =
      """(?i)^\s*([A-Za-z_][A-Za-z0-9_]*)\s+IS\s+NOT\s+NULL\s*$""".r
    private val GeRe = """^\s*([A-Za-z_][A-Za-z0-9_]*)\s*>=\s*(-?\d+)\s*$""".r
    private val LeRe = """^\s*([A-Za-z_][A-Za-z0-9_]*)\s*<=\s*(-?\d+)\s*$""".r
    private val BetweenRe =
      """(?i)^\s*([A-Za-z_][A-Za-z0-9_]*)\s+BETWEEN\s+(-?\d+)\s+AND\s+(-?\d+)\s*$""".r
    private val DGeRe =
      """^\s*([A-Za-z_][A-Za-z0-9_]*)\s*>=\s*(-?\d+\.\d+)\s*$""".r
    private val DLeRe =
      """^\s*([A-Za-z_][A-Za-z0-9_]*)\s*<=\s*(-?\d+\.\d+)\s*$""".r
    private val DBetweenRe =
      """(?i)^\s*([A-Za-z_][A-Za-z0-9_]*)\s+BETWEEN\s+(-?\d+\.\d+)\s+AND\s+(-?\d+\.\d+)\s*$""".r
    private val SGeRe =
      """^\s*([A-Za-z_][A-Za-z0-9_]*)\s*>=\s*'([^']*)'\s*$""".r
    private val SLeRe =
      """^\s*([A-Za-z_][A-Za-z0-9_]*)\s*<=\s*'([^']*)'\s*$""".r
    private val SBetweenRe =
      """(?i)^\s*([A-Za-z_][A-Za-z0-9_]*)\s+BETWEEN\s+'([^']*)'\s+AND\s+'([^']*)'\s*$""".r
    // literals must order identically in Java UTF-16, parquet unsigned
    // bytes, and Spark's UTF8String — the stored-bound ASCII policy
    private def strLit(s: String): Option[String] =
      if (s.forall(strBoundSafe)) Some(s) else None
    def parse(expr: String): Option[Constraint] = expr match {
      case NotNullRe(c) => Some(NotNull(c))
      case GeRe(c, v) => Some(Range(c, Some(v.toLong), None))
      case LeRe(c, v) => Some(Range(c, None, Some(v.toLong)))
      case BetweenRe(c, lo, hi) => Some(Range(c, Some(lo.toLong), Some(hi.toLong)))
      case DGeRe(c, v) => Some(DblRange(c, Some(v.toDouble), None))
      case DLeRe(c, v) => Some(DblRange(c, None, Some(v.toDouble)))
      case DBetweenRe(c, lo, hi) =>
        Some(DblRange(c, Some(lo.toDouble), Some(hi.toDouble)))
      case SGeRe(c, v) => strLit(v).map(s => StrRange(c, Some(s), None))
      case SLeRe(c, v) => strLit(v).map(s => StrRange(c, None, Some(s)))
      case SBetweenRe(c, lo, hi) => for (l <- strLit(lo); h <- strLit(hi))
        yield StrRange(c, Some(l), Some(h))
      case _ => None
    }
    val Grammar: String =
      "'<col> IS NOT NULL', '<col> >= <int>', '<col> <= <int>', " +
        "'<col> BETWEEN <int> AND <int>' (decimal-point literals for " +
        "DOUBLE columns, single-quoted ASCII literals for STRING columns)"
  }
  private[graft] val ConstraintPrefix = "constraint."

  /** Live constraints from the property fold (+ a pending delta):
    * (name, parsed). Unparseable stored values fail loudly — they can
    * only exist if written around [[setProperties]]' validation. */
  private[graft] def liveConstraints(
      table: String, extra: Map[String, String] = Map.empty)
      : Seq[(String, Constraint)] =
    (tableProps(table) ++ extra.filter(_._2.nonEmpty)).toSeq
      .filter(_._1.startsWith(ConstraintPrefix)).sortBy(_._1)
      .map { case (k, v) =>
        k.stripPrefix(ConstraintPrefix) -> Constraint.parse(v).getOrElse(
          throw new IllegalStateException(
            s"table $table: stored constraint '$k' = '$v' is outside the " +
              s"footer-decidable grammar (${Constraint.Grammar})"))
      }

  /** One file's stats vs one constraint: None = complies, Some(reason) =
    * refuse. Exactness notes in the surface comment above. */
  private def constraintViolation(
      f: FileEntry, physCol: String, c: Constraint): Option[String] = c match {
    case Constraint.NotNull(_) => f.colsN.get(physCol) match {
      case Some(0L) => None
      case Some(n) => Some(s"$n NULL value(s) in '$physCol'")
      case None => Some(
        s"no null-count statistic for '$physCol' — cannot prove NOT NULL")
    }
    case Constraint.Range(_, lo, hi) =>
      if (f.colsN.get(physCol).contains(f.rows)) None // all-NULL: CHECK passes
      else f.cols.get(physCol) match {
        case Some((mn, mx)) =>
          if (lo.exists(mn < _)) Some(s"min($physCol) = $mn < ${lo.get}")
          else if (hi.exists(mx > _)) Some(s"max($physCol) = $mx > ${hi.get}")
          else None
        case None => Some(
          s"no [min,max] statistic for '$physCol' — cannot prove the range")
      }
    case Constraint.DblRange(_, lo, hi) =>
      if (f.colsN.get(physCol).contains(f.rows)) None // all-NULL: CHECK passes
      else f.colsD.get(physCol) match {
        case Some((mn, mx)) =>
          if (lo.exists(mn < _)) Some(s"min($physCol) = $mn < ${lo.get}")
          else if (hi.exists(mx > _)) Some(s"max($physCol) = $mx > ${hi.get}")
          else None
        case None => Some(
          s"no [min,max] statistic for '$physCol' — cannot prove the range " +
            "(NaN/Infinity values drop a double column's statistics)")
      }
    case Constraint.StrRange(_, lo, hi) =>
      if (f.colsN.get(physCol).contains(f.rows)) None // all-NULL: CHECK passes
      else f.colsS.get(physCol) match {
        // stored lower is a PREFIX (<= true min) and stored upper is the
        // value or a strict successor (>= true max), so these comparisons
        // PROVE the range; over-refusal on truncated bounds is possible
        // and safe
        case Some((mn, mx)) =>
          if (lo.exists(l => mn < l)) Some(s"min($physCol) bound '$mn' < '${lo.get}'")
          else if (hi.exists(h => mx > h)) Some(s"max($physCol) bound '$mx' > '${hi.get}'")
          else None
        case None => Some(
          s"no [min,max] statistic for '$physCol' — cannot prove the range " +
            "(non-ASCII values drop a string column's statistics)")
      }
  }

  /** Commit-side gate: every ADDED file's stats must prove compliance
    * with the table's live constraints (including any being set in the
    * same commit). Called on each commit attempt so a racing ADD
    * CONSTRAINT is honored. Pure manifest arithmetic — zero data reads. */
  private def requireConstraintsOnAdds(
      table: String, adds: Seq[FileEntry], schemaJson: String,
      propsDelta: Map[String, String]): Unit = {
    if (adds.isEmpty) return
    val dropped = propsDelta.filter(_._2.isEmpty).keySet
    val cs = liveConstraints(table, propsDelta)
      .filterNot { case (n, _) => dropped.contains(ConstraintPrefix + n) }
    if (cs.isEmpty) return
    val phys: Map[String, String] =
      if (schemaJson.isEmpty) Map.empty
      else org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fields.map(f => f.name -> physicalName(f)).toMap
    for ((name, c) <- cs; f <- adds)
      constraintViolation(f, phys.getOrElse(c.col, c.col), c).foreach { why =>
        throw new IllegalArgumentException(
          s"constraint '$name' on $table refuses file ${f.file}: $why " +
            "(write-time constraints are footer-stats-proven; fix the " +
            "batch or UNSET the constraint)")
      }
  }

  /** ADD CONSTRAINT's snapshot gate: every NEW constraint in a props
    * delta must be grammatical, name a real (long-encoded, for ranges)
    * column, and be PROVEN by the stats of every live file — zero data
    * reads. Runs inside [[commit]]'s claim loop on EVERY attempt against
    * the exact snapshot the CAS lands on: a racing data commit whose own
    * [[requireConstraintsOnAdds]] ran before the constraint existed
    * passes that gate, so validating only once in the caller would let
    * the constraint land over a snapshot that violates it (the re-claim
    * path never re-enters the caller). */
  private def requireConstraintsOnSnapshot(
      table: String, propsDelta: Map[String, String],
      live: Seq[FileEntry], schemaJson: String): Unit = {
    val newCs = propsDelta.filter { case (k, v) =>
      k.startsWith(ConstraintPrefix) && v.nonEmpty }
    if (newCs.isEmpty) return
    val sc: Option[org.apache.spark.sql.types.StructType] =
      if (schemaJson.isEmpty) None
      else Some(org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    newCs.foreach { case (k, v) =>
      val c = Constraint.parse(v).getOrElse(throw new IllegalArgumentException(
        s"$k on $table: '$v' is outside the footer-decidable constraint " +
          s"grammar (${Constraint.Grammar})"))
      sc.foreach { s =>
        val f = s.fields.find(_.name == c.col).getOrElse(
          throw new IllegalArgumentException(
            s"$k on $table: no column '${c.col}' " +
              s"(have ${s.fieldNames.mkString(", ")})"))
        c match {
          case _: Constraint.Range =>
            import org.apache.spark.sql.types._
            require(Seq(LongType, IntegerType, ShortType, DateType,
              TimestampType, TimestampNTZType).contains(f.dataType),
              s"$k on $table: integer range constraints need a " +
                s"long-encoded column; '${c.col}' is " +
                s"${f.dataType.catalogString} (spell DOUBLE bounds with " +
                "a decimal point, STRING bounds single-quoted)")
          case _: Constraint.DblRange =>
            import org.apache.spark.sql.types._
            require(f.dataType == DoubleType || f.dataType == FloatType,
              s"$k on $table: decimal-literal range constraints need a " +
                s"DOUBLE/FLOAT column; '${c.col}' is ${f.dataType.catalogString}")
          case _: Constraint.StrRange =>
            import org.apache.spark.sql.types._
            require(f.dataType == StringType,
              s"$k on $table: quoted-literal range constraints need a " +
                s"STRING column; '${c.col}' is ${f.dataType.catalogString}")
          case _ => ()
        }
      }
      val phys = sc.flatMap(_.fields.find(_.name == c.col))
        .map(physicalName).getOrElse(c.col)
      live.foreach { f =>
        constraintViolation(f, phys, c).foreach { why =>
          throw new IllegalArgumentException(
            s"$k on $table: existing file ${f.file} violates '$v': $why " +
              "— constraints must hold over the current snapshot to land")
        }
      }
    }
  }

  def setProperties(
      table: String, set: Map[String, String],
      unset: Seq[String] = Seq.empty): Unit = {
    validateProps(table, set, unset)
    // ADD CONSTRAINT validates like Delta's: the grammar, the column
    // (exists, long-encoded for ranges), and the snapshot's files — all
    // inside commit's claim loop ([[requireConstraintsOnSnapshot]]), so
    // every CAS retry re-proves the constraints over the fresh snapshot.
    val delta = set ++ unset.map(_ -> "")
    if (delta.nonEmpty) optimistically { b =>
      val (v, _, sc) = snapshotWithSchema(table, None)
      require(v > 0, s"setProperties($table): table does not exist")
      verdict(commit(table, b, v, adds = Seq.empty, removes = Seq.empty,
        schema = sc.map(_.json).getOrElse(""),
        keyCol = tableKeyCol(table).getOrElse(""), props = delta))
    }
  }

  /** True iff the snapshot at `asOf` (head when None) PROVES the key
    * column holds no NULL: every live file's manifest stats carry a
    * zero null-count for the key's PHYSICAL name. This is what lets the
    * connector declare the key non-nullable — the precondition for the
    * SQL merge-on-read path, whose delta rowId must be non-null
    * (Spark's RewriteRowLevelCommand rejects nullable row IDs; Iceberg
    * solves the same constraint by requiring identifier fields).
    * Registration enforces zero null keys going forward
    * ([[registerStaged]]), so the proof is stable once it holds; a
    * pre-stats file or a reserved-name key (whose stats the manifest
    * cannot carry) is conservatively unprovable — compact() rewrites
    * with stats and restores the proof. */
  private[graft] def keyProvablyNotNull(
      table: String, asOf: Option[Long]): Boolean =
    tableKeyCol(table).exists { k =>
      val (_, files, schema) = snapshotWithSchema(table, asOf)
      val phys = mappingOf(schema).getOrElse(k, k)
      files.forall(_.colsN.get(phys).contains(0L))
    }

  /** Key-contract guard: an operation keyed differently than the table
    * would commit minKey/maxKey stats describing the WRONG column — every
    * later pruning decision would silently skip live rows. Loud, not
    * latent. */
  private def requireKeyMatch(table: String, keyCol: String): Unit =
    tableKeyCol(table).filter(_ != keyCol).foreach { k =>
      throw new IllegalArgumentException(
        s"LogTable: $table is keyed by '$k' but the operation was given " +
          s"'$keyCol' — manifest key stats would describe the wrong column")
    }

  /** Manifests with version in (fromV, toV] — the micro-batch planning
    * unit of the streaming connector ([[graft.sources.v2]]): commits are
    * immutable once claimed, so an offset range replans identically on
    * recovery. Fails loudly when fromV predates a truncation checkpoint
    * (the stream's history was explicitly dropped). */
  private[graft] def manifestRange(table: String, fromV: Long, toV: Long): Seq[Manifest] = {
    requireNotTruncated(table, math.max(fromV, 1L))
    manifests(table).filter(m => m.version > fromV && m.version <= toV)
  }

  /** Snapshot read at the head version. */
  def read(spark: SparkSession, table: String): DataFrame = {
    val (v, fs, schema) = snapshotWithSchema(table, None)
    readFiles(spark, table, fs, schema, liveDvState(table, Some(v)))
  }

  /** Snapshot read AS OF a committed version (time travel) — under the
    * schema committed at that version, so an audit of yesterday's
    * snapshot sees yesterday's columns. A version below a
    * [[truncateHistory]] checkpoint fails LOUDLY — returning an empty
    * frame would let an audit silently read "no data" where history was
    * explicitly dropped. */
  def readVersion(spark: SparkSession, table: String, v: Long): DataFrame = {
    requireNotTruncated(table, v)
    // beyond-head refuses loudly: the <=v fold would otherwise serve the
    // CURRENT head labeled as the requested version — invented history
    // for an auditor's typo (restore() validates the same bound)
    val headV = version(table)
    require(v <= headV,
      s"readVersion($table): version $v does not exist (head is $headV)")
    val (_, fs, schema) = snapshotWithSchema(table, Some(v))
    readFiles(spark, table, fs, schema, liveDvState(table, Some(v)))
  }

  /** Throws when `v` predates the earliest retained manifest of a
    * truncated log (the explicit-destruction contract made loud). */
  private def requireNotTruncated(table: String, v: Long): Unit =
    manifests(table).headOption
      .filter(m => m.checkpoint && m.version > 1 && v < m.version)
      .foreach { m =>
        throw new IllegalStateException(
          s"version $v of $table predates the truncation checkpoint " +
            s"v${m.version} — that history was explicitly dropped " +
            "(truncateHistory)")
      }

  private def readFiles(
      spark: SparkSession, table: String, fs: Seq[FileEntry],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      dvs: DvState = DvState.empty): DataFrame = {
    if (fs.isEmpty)
      // empty snapshot: serve the COMMITTED schema when one exists (a
      // createEmpty'd or fully-deleted table still has a shape — joins
      // and unions against it must resolve, same as the DSv2 read path);
      // only a genuinely pre-schema empty log degrades to schema-less
      return schema.fold(spark.emptyDataFrame) { s =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), s)
      }
    val base = scanCommitted(spark, table, fs, schema)
    // deletion vectors, both kinds, applied zero-shuffle:
    //   - KEY vectors (small-delta verbs): rows whose (file, key) pair is
    //     marked dead filter through ONE broadcast anti-join. The dead
    //     set is bounded ([[DvMaxKeys]] per commit, purged by every
    //     rewrite/compaction), so the broadcast is kilobytes at 100 TB.
    //   - POSITIONAL vectors (bulk verbs): rows whose (file, row_index)
    //     is set in the file's roaring sidecar filter through a native
    //     [[graft.functions.PositionDead]] predicate — executors load
    //     each touched file's bitmap once; the plan carries only sidecar
    //     NAMES, so a million-row delete costs the scan one codegen'd
    //     probe per row, no join, no broadcast, no shuffle.
    // Files without vectors pay nothing but the helper projection;
    // never-DV'd tables skip both paths entirely.
    val names = fs.iterator.map(_.file).toSet
    val dead = dvs.keys.iterator
      .filter { case (f, ks) => names.contains(f) && ks.nonEmpty }
      .flatMap { case (f, ks) => ks.iterator.map(k => (f, k)) }
      .toSeq
    val posLive = dvs.pos.filter { case (f, ss) => names.contains(f) && ss.nonEmpty }
    val fresh = freshName(base.columns.toSet) _
    // positional helpers attach on the RAW relation: `_metadata` only
    // resolves against the file source, not through the anti-join below
    val needPos = posLive.nonEmpty
    val posFCol = fresh("_dv_pos_file")
    val posPCol = fresh("_dv_pos_idx")
    val base2 =
      if (!needPos) base
      else base
        .withColumn(posFCol, col("_metadata.file_name"))
        .withColumn(posPCol, col("_metadata.row_index"))
    val withKeyDvs =
      if (dead.isEmpty) base2
      else {
        val sp = spark
        import sp.implicits._
        // key identity survives renames physically: resolve the key
        // column AS NAMED IN THIS SNAPSHOT's schema via the physical name
        val logicalNow = tableKeyCol(table).getOrElse(
          throw new IllegalStateException(
            s"$table carries deletion vectors but no key-column property"))
        val physKey = snapshotWithSchema(table, None)._3
          .flatMap(_.fields.find(_.name == logicalNow)).map(physicalName)
          .getOrElse(logicalNow)
        val keyHere = schema
          .flatMap(_.fields.find(f => physicalName(f) == physKey)).map(_.name)
          .getOrElse(physKey)
        val fCol = fresh("_dv_file")
        val kCol = fresh("_dv_key")
        base2
          .withColumn(fCol, element_at(split(input_file_name(), "/"), -1))
          .withColumn(kCol, col(keyHere))
          .join(broadcast(dead.toDF(fCol, kCol)), Seq(fCol, kCol), "left_anti")
          .drop(fCol, kCol)
      }
    if (!needPos) withKeyDvs
    else {
      import org.apache.spark.sql.GraftColumnBridge.{column => asCol, expression => asExpr}
      // parquet's own metadata columns give (file, position) exactly —
      // no counting, no assumptions about split planning
      withKeyDvs
        .filter(!asCol(graft.functions.PositionDead(
          asExpr(col(posFCol)), asExpr(col(posPCol)), table, posLive)))
        .drop(posFCol, posPCol)
    }
  }

  /** Parquet scan of `fs` under the manifest-committed schema: files
    * written BEFORE a column was added surface it as typed NULLs
    * (parquet reader fills absent columns), and no per-file footer merge
    * runs — at 100 TB, schema from the log beats mergeSchema's full
    * footer sweep by the width of the table. */
  private def scanCommitted(
      spark: SparkSession, table: String, fs: Seq[FileEntry],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val paths = fs.map(f => dataDir(table).resolve(f.file).toString)
    schema match {
      case None => spark.read.parquet(paths: _*)
      case Some(s) if !s.fields.exists(f => physicalName(f) != f.name) =>
        spark.read.schema(s).parquet(paths: _*)
      case Some(s) =>
        // column mapping: files carry PHYSICAL names — scan under the
        // physical schema (same types and positions) and project back
        // to the committed logical names; the rename costs an alias,
        // never a rewrite or an extra pass
        val phys = org.apache.spark.sql.types.StructType(
          s.fields.map(f => f.copy(name = physicalName(f))))
        spark.read.schema(phys).parquet(paths: _*)
          .select(s.fields.map(f =>
            col(physicalName(f)).as(f.name)).toIndexedSeq: _*)
    }
  }

  /** A helper-column name that does not SHADOW a data column (withColumn
    * replaces same-named columns and a trailing drop would then delete
    * user data): suffix `n` until fresh. */
  private def freshName(taken: Set[String])(n: String): String = {
    var c = n
    while (taken.contains(c)) c += "_"
    c
  }

  /** Create the table with an initial data set (v1). Claims EXACTLY v1
    * — no re-claim loop: two racing creators must not both land (their
    * batches could share keys, and an append-style re-claim would let
    * both file sets go live — duplicate rows with no conflict ever
    * detected). The loser gets a loud IllegalStateException; a caller
    * that wants create-or-upsert handles it (see
    * [[graft.etl.LogWarehouse.upsert]]). */
  def create(spark: SparkSession, table: String, df: DataFrame, keyCol: String): Unit = {
    uncacheTable(table)
    Files.createDirectories(logDir(table))
    Files.createDirectories(dataDir(table))
    val adds = writeData(spark, table, df, keyCol)
    val m = Manifest(1L, adds, removes = Seq.empty, schema = df.schema.json,
      keyCol = keyCol, ts = System.currentTimeMillis())
    publishFirst(table, m)
  }

  /** Create the table with a committed SCHEMA and zero data files (v1)
    * — the SQL `CREATE TABLE` shape ([[graft.sources.v2.LogCatalog]]):
    * the reference bootstraps its warehouse with `CREATE TABLE IF NOT
    * EXISTS` DDL before any row exists (ddl.sql:1-43), and a CTAS
    * commits this empty v1 then appends the query result as v2. Claims
    * exactly v1 with the same loser-loses race rule as [[create]]. */
  def createEmpty(
      table: String, schema: org.apache.spark.sql.types.StructType,
      keyCol: String, props: Map[String, String] = Map.empty): Unit = {
    require(schema.fieldNames.contains(keyCol),
      s"createEmpty($table): key column '$keyCol' is not in the schema " +
        s"(${schema.fieldNames.mkString(", ")})")
    validateProps(table, props, Seq.empty)
    uncacheTable(table)
    Files.createDirectories(logDir(table))
    Files.createDirectories(dataDir(table))
    val m = Manifest(1L, adds = Seq.empty, removes = Seq.empty,
      schema = schema.json, keyCol = keyCol, ts = System.currentTimeMillis(),
      props = props)
    publishFirst(table, m)
  }

  /** Zero-copy table CLONE (the lakehouse SHALLOW CLONE verb, hardened):
    * materialize `src`'s snapshot at `asOf` (default: head) as a brand
    * new table `dst` whose v1 lists the same files — except the files
    * are HARD LINKS into dst's own data dir, not path references into
    * src's. Links make the clone's cost O(files) metadata with ZERO
    * bytes copied, and — unlike path-referencing shallow clones — fully
    * independent afterwards: each table's vacuum/truncateHistory deletes
    * its OWN directory entries, and a shared inode survives until both
    * names drop, so neither table can break the other (the documented
    * operational hazard of the published formats' shallow clones).
    * Data files are immutable once registered, so sharing inodes is
    * safe; every post-clone write lands new files per table. On a
    * filesystem without cross-link support the per-file fallback is a
    * copy (correct, just not zero-cost). A multi-node deployment backs
    * this with the object store's server-side copy — same shape.
    * Returns (files, rows) cloned. */
  def cloneTable(src: String, dst: String, asOf: Option[Long] = None): (Int, Long) = {
    require(Files.isDirectory(logDir(src)),
      s"cloneTable: source table $src does not exist")
    val (_, files, schema) = snapshotWithSchema(src, asOf)
    val key = tableKeyCol(src).getOrElse("")
    uncacheTable(dst)
    Files.createDirectories(logDir(dst))
    Files.createDirectories(dataDir(dst))
    files.foreach { f =>
      linkOrCopy(dataDir(src).resolve(f.file), dataDir(dst).resolve(f.file))
    }
    val m = Manifest(1L, adds = files, removes = Seq.empty,
      schema = schema.map(_.json).getOrElse(""), keyCol = key,
      ts = System.currentTimeMillis(),
      // the clone must carry the source's deletion vectors: its v1
      // lists the same files, and serving them vector-free would
      // resurrect the dead rows in the copy. Positional sidecars are
      // hard-linked below under the same names the dvp entries carry.
      dvs = liveDvs(src, asOf),
      dvp = {
        val pos = livePosDvs(src, asOf)
        if (pos.nonEmpty) {
          Files.createDirectories(dvDir(dst))
          pos.valuesIterator.flatten.toSeq.distinct.foreach { n =>
            linkOrCopy(dvDir(src).resolve(n), dvDir(dst).resolve(n))
          }
        }
        pos
      },
      // ... and the source's TABLE-PROPERTY fold at the cloned version:
      // a clone of a merge-on-read table silently reverting to
      // copy-on-write would be a policy change nobody asked for
      props = tableProps(src, asOf))
    publishFirst(dst, m)
    (files.size, files.map(_.rows).sum)
  }

  /** FULL-HISTORY clone: every manifest copied verbatim, every data file
    * referenced by ANY version hard-linked — the destination time-travels
    * and serves change feeds exactly like the source ([[cloneTable]]
    * flattens to a single v1, the Delta-style zero-history clone).
    * Primarily a fixture verb: bench/test reps that mutate a table whose
    * HISTORY is part of the scenario (e.g. a change-feed window) take a
    * private history clone each instead of rebuilding the commits. Cost
    * is O(files + versions) metadata, zero data bytes. */
  private[graft] def cloneTableWithHistory(src: String, dst: String): Unit = {
    require(Files.isDirectory(logDir(src)),
      s"cloneTableWithHistory: source table $src does not exist")
    require(!Files.isDirectory(logDir(dst)),
      s"cloneTableWithHistory: destination $dst already exists")
    uncacheTable(dst)
    Files.createDirectories(logDir(dst))
    Files.createDirectories(dataDir(dst))
    val ms = manifests(src)
    ms.flatMap(_.adds.map(_.file)).distinct.foreach { f =>
      linkOrCopy(dataDir(src).resolve(f), dataDir(dst).resolve(f))
    }
    // The copied manifests reference positional-DV sidecars by name, and
    // loadPosDv fails loudly on a missing sidecar — so every sidecar any
    // version's dvp names must travel too (same link-or-copy fallback as
    // the data files), or reads of those versions break in the clone.
    val sidecars = ms.flatMap(_.dvp.valuesIterator.flatten).distinct
    if (sidecars.nonEmpty) {
      Files.createDirectories(dvDir(dst))
      sidecars.foreach { n =>
        linkOrCopy(dvDir(src).resolve(n), dvDir(dst).resolve(n))
      }
    }
    ms.foreach { m =>
      Files.copy(versionPath(src, m.version), versionPath(dst, m.version),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** SQL `ALTER TABLE ADD COLUMN(S)` as a schema-evolution commit: an
    * EMPTY manifest (no adds, no removes) carrying the widened schema.
    * Readers apply the latest committed schema to the whole snapshot, so
    * every pre-ALTER file surfaces the new columns as typed NULLs on the
    * next read, while `VERSION AS OF` before the ALTER still reads under
    * the pre-ALTER schema — the log position IS the schema history. This
    * is the reference's ALTER-based migration playbook
    * (reference src/tools/migrate_duckdb.py:7-26: `ALTER TABLE orders
    * ADD COLUMN IF NOT EXISTS net_total DOUBLE`) with the same
    * IF-NOT-EXISTS semantics: re-adding an existing column with the SAME
    * type is a no-op (no commit), a same-name DIFFERENT-type add fails
    * loudly instead of poisoning reads. Concurrency: an empty removal
    * set can never conflict, and the commit loop's schema-merge path
    * keeps a racing writer's evolution (either serial order yields the
    * same union). */
  def addColumns(
      spark: SparkSession, table: String,
      newCols: Seq[org.apache.spark.sql.types.StructField]): Unit = {
    val (snapVersion, liveNow, committedSchema) = snapshotWithSchema(table, None)
    require(Files.isDirectory(logDir(table)),
      s"addColumns($table): table does not exist")
    val current = snapshotSchema(spark, table, liveNow, committedSchema)
      .getOrElse(throw new IllegalStateException(
        s"addColumns($table): empty pre-evolution table has no committed " +
          "schema to widen — append data first"))
    val existing = current.fields.map(f => f.name -> f.dataType).toMap
    newCols.foreach { f =>
      existing.get(f.name).filter(_ != f.dataType).foreach { t =>
        throw new IllegalArgumentException(
          s"addColumns($table): column '${f.name}' already exists with type " +
            s"$t — cannot re-add as ${f.dataType}")
      }
    }
    val genuinelyNew = newCols.filterNot(f => existing.contains(f.name))
      // added columns are NULL on every existing row by construction
      .map(_.copy(nullable = true))
    if (genuinelyNew.isEmpty) return // IF NOT EXISTS semantics: no-op, no commit
    // re-add-after-DROP guard: a live file that still PHYSICALLY carries
    // the name would resurface its old values instead of the NULLs an
    // added column promises (the silent-resurrection hazard that makes
    // the published formats require column mapping for DROP). Presence
    // is decided from the manifests' own per-file stats maps — zero
    // footer reads; engine-written files record colsN for every column.
    // compact() rewrites under the committed schema, so DROP + compact
    // physically purges the column and frees the name.
    requireNoPhysicalCarriers(table, liveNow, genuinelyNew.map(_.name), "addColumns")
    val widened = org.apache.spark.sql.types.StructType(
      current.fields ++ genuinelyNew)
    landedOrFail(
      commit(table, new Budget, snapVersion, adds = Seq.empty, removes = Seq.empty,
        schema = widened.json),
      new IllegalStateException(
        s"addColumns($table) hit a removal conflict — impossible with empty removes"))
  }

  /** `ALTER TABLE DROP COLUMN(S)` as ONE narrowing schema-evolution
    * commit: readers apply the committed schema by NAME, so the column
    * disappears from every scan immediately while the bytes stay in
    * place — a metadata-only drop, zero rewrites (the published formats'
    * drop-by-mapping semantics, reachable here because reads already
    * project the manifest schema rather than file footers). Time travel
    * below the drop still serves the column under its version's schema.
    * Physical purge is [[compact]]'s job (rewrites run under the
    * committed schema); until then [[addColumns]] refuses to re-bind the
    * name (live files would resurface old values instead of NULLs).
    * The key column cannot drop — every keyed write and the manifest
    * min/maxKey pruning depend on it. `ifExists` makes unknown names a
    * no-op instead of an error (the SQL IF EXISTS contract). */
  def dropColumns(
      spark: SparkSession, table: String, names: Seq[String],
      ifExists: Boolean = false): Unit = optimistically { b =>
    val (snapVersion, liveNow, committedSchema) = snapshotWithSchema(table, None)
    require(Files.isDirectory(logDir(table)),
      s"dropColumns($table): table does not exist")
    val current = snapshotSchema(spark, table, liveNow, committedSchema)
      .getOrElse(throw new IllegalStateException(
        s"dropColumns($table): empty pre-evolution table has no committed " +
          "schema to narrow"))
    val key = tableKeyCol(table)
    names.foreach { n =>
      if (key.contains(n)) throw new IllegalArgumentException(
        s"dropColumns($table): '$n' is the table's key column — keyed " +
          "writes and manifest pruning depend on it; it cannot drop")
      // a recompute after a racing schema evolution tolerates unknown
      // names (the racer may have dropped one too) — serial-order
      // equivalent either way; the first attempt already validated them
      if (!current.fieldNames.contains(n) && !ifExists && !b.spent)
        throw new IllegalArgumentException(
          s"dropColumns($table): no column '$n' " +
            s"(have ${current.fieldNames.mkString(", ")})")
      liveConstraints(table).find(_._2.col == n).foreach { case (cn, _) =>
        throw new IllegalArgumentException(
          s"dropColumns($table): column '$n' is referenced by constraint " +
            s"'$cn' — UNSET TBLPROPERTIES ('$ConstraintPrefix$cn') first")
      }
    }
    val toDrop = names.toSet
    val narrowed = org.apache.spark.sql.types.StructType(
      current.fields.filterNot(f => toDrop(f.name)))
    if (narrowed.length == current.length) Some(false) // all IF EXISTS misses
    else {
      require(narrowed.nonEmpty,
        s"dropColumns($table): cannot drop every column")
      verdict(commit(table, b, snapVersion, adds = Seq.empty, removes = Seq.empty,
        schema = narrowed.json, schemaNarrowing = true))
    }
  }

  /** SQL `ALTER TABLE RENAME COLUMN` via COLUMN MAPPING (the published
    * formats' name-mode playbook — Delta column mapping, Iceberg field
    * ids): a METADATA-ONLY commit that rewrites ZERO data files. The
    * renamed field keeps its PHYSICAL name, recorded as field metadata
    * ([[PhysicalNameKey]]) riding the committed schema; data files and
    * manifest stats keep physical names forever ([[writeData]] maps
    * every later batch), and reads project physical → logical at scan
    * time ([[readFiles]]). Time travel is exact by construction: a
    * version before the rename carries the old schema — with no
    * mapping — and reads the files directly.
    *
    * Consequences a caller must know:
    *   - the OLD name stays RESERVED for the table's lifetime: every
    *     live and future data file physically carries it, so re-adding
    *     a column under it is refused ([[requireNoPhysicalCarriers]]) —
    *     the same permanence the published formats accept;
    *   - renaming the KEY column updates the keyCol table property in
    *     the same commit (later keyed writes use the new name);
    *   - a [[changes]] window crossing the rename serves under the END
    *     version's logical names (physical identity is stable, so the
    *     before snapshot projects old names to new — Delta's
    *     CDF-with-column-mapping semantics; a rename alone never reads
    *     as an update);
    *   - the streaming APPEND sink pins the mapping at stream start and
    *     writes epoch parts under physical names (a mid-stream rename
    *     fails the epoch loudly; the restart re-pins).
    *
    * Reference context: the reference's own migration tool only ADDs
    * columns (migrate_duckdb.py:7-26); this closes the rename half of
    * the evolution surface its ALTER-based playbook implies. */
  def renameColumn(
      spark: SparkSession, table: String, from: String, to: String): Unit = {
    require(from != to, s"renameColumn($table): '$from' -> '$to' is a no-op")
    require(to.nonEmpty, s"renameColumn($table): empty target name")
    optimistically { b =>
      // a stored constraint names the column AS SPELLED AT SET TIME —
      // renaming underneath it would orphan the expression (and silently
      // stop enforcing). Refuse; UNSET the constraint first.
      liveConstraints(table).find(_._2.col == from).foreach { case (n, _) =>
        throw new IllegalArgumentException(
          s"renameColumn($table): column '$from' is referenced by " +
            s"constraint '$n' — UNSET TBLPROPERTIES " +
            s"('$ConstraintPrefix$n') first")
      }
      val (snapVersion, liveNow, committedSchema) = snapshotWithSchema(table, None)
      require(Files.isDirectory(logDir(table)),
        s"renameColumn($table): table does not exist")
      // pre-evolution table: the inferred names become the physical names
      // the mapping preserves
      val current = snapshotSchema(spark, table, liveNow, committedSchema)
        .getOrElse(throw new IllegalStateException(
          s"renameColumn($table): empty pre-evolution table has no committed " +
            "schema to rename in — append data first"))
      require(current.fieldNames.contains(from),
        s"renameColumn($table): no column '$from' " +
          s"(have ${current.fieldNames.mkString(", ")})")
      require(!current.fieldNames.contains(to),
        s"renameColumn($table): column '$to' already exists")
      val renamed = org.apache.spark.sql.types.StructType(current.fields.map { f =>
        if (f.name == from)
          org.apache.spark.sql.types.StructField(to, f.dataType, f.nullable,
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putString(PhysicalNameKey, physicalName(f)).build())
        else f
      })
      val key = tableKeyCol(table)
      // a rename REMOVES a logical name: the re-claim path's union merge
      // would resurrect the old field beside the new one, so take the
      // narrowing rule — recompute against the racer's head (a racing
      // rename of the same column then fails its own validation loudly)
      verdict(commit(table, b, snapVersion, adds = Seq.empty, removes = Seq.empty,
        schema = renamed.json,
        keyCol = if (key.contains(from)) to else key.getOrElse(""),
        schemaNarrowing = true))
    }
  }

  /** The allowed type-widening promotions (Iceberg's public widening
    * matrix, restricted to this warehouse's flat type set): every
    * promotion is VALUE-PRESERVING — each existing value reads back
    * bit-exactly under the wider type — which is what makes a
    * metadata-only widen sound. Anything else (narrowing, cross-family,
    * scale changes) would fork the log's value history and is refused. */
  private[graft] def isWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** SQL `ALTER TABLE ... ALTER COLUMN ... TYPE` as a TYPE-WIDENING
    * schema-evolution commit (the Iceberg widening-matrix semantics:
    * int family upward, float → double, decimal precision up at fixed
    * scale): ONE metadata-only commit carrying the widened schema,
    * ZERO data files rewritten.
    *
    * Why zero rewrites is sound end-to-end:
    *   - READS: the committed schema governs every scan, and Spark's
    *     vectorized parquet reader natively upcasts a narrower physical
    *     file type into the requested wider column (int32 pages under a
    *     bigint read schema, float under double, lower-precision decimal
    *     — verified with filter pushdown intact), so pre-widen files and
    *     post-widen files serve one coherent wide column. The DSv2
    *     connector's row reader dispatches its extractors on the FILE's
    *     physical type for the same reason.
    *   - MANIFEST STATS stay exact without touching: the per-file stats
    *     maps already record integral-family bounds normalized AS LONGS
    *     and float/double bounds AS DOUBLES (the footer encodings), so
    *     pruning comparisons and the stats-only aggregate pushdown are
    *     width-independent — a widen changes only the type the answer is
    *     DECODED to, never the recorded bounds. Decimal columns carry no
    *     range stats by policy, so precision widening cannot corrupt
    *     skipping either.
    *   - TIME TRAVEL below the widen serves the version's own committed
    *     schema — the old narrow type over the old narrow files — and a
    *     [[changes]] window crossing the widen serves under the END
    *     version's wide type (union coercion; physical values identical),
    *     the same end-version rule renames follow.
    *   - CONSTRAINTS are RE-PROVEN, not refused: every widening is
    *     value-preserving, so a CHECK/MIN/MAX/NOT NULL expression over
    *     the column decides identically over the widened values
    *     (LogConnectorSpec pins enforcement across the widen).
    *   - The KEY column may widen within the integer family: key stats
    *     (minKey/maxKey) are already longs and every keyed path reads
    *     keys through a long cast / physical-type dispatch.
    *
    * Batches arriving AFTER the widen must carry the wide type
    * ([[requireCompatible]] refuses narrow ones loudly — casting is the
    * caller's explicit act, same as every other type rule). Re-widening
    * to the current type is a no-op (ALTER idempotence, the addColumns
    * IF-NOT-EXISTS precedent). */
  def widenColumn(
      spark: SparkSession, table: String, name: String,
      newType: org.apache.spark.sql.types.DataType): Unit = optimistically { b =>
    val (snapVersion, liveNow, committedSchema) = snapshotWithSchema(table, None)
    require(Files.isDirectory(logDir(table)),
      s"widenColumn($table): table does not exist")
    val current = snapshotSchema(spark, table, liveNow, committedSchema)
      .getOrElse(throw new IllegalStateException(
        s"widenColumn($table): empty pre-evolution table has no committed " +
          "schema to widen — append data first"))
    val field = current.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"widenColumn($table): no column '$name' " +
          s"(have ${current.fieldNames.mkString(", ")})"))
    if (field.dataType == newType) Some(false) // already that type: no-op
    else {
      require(isWidening(field.dataType, newType),
        s"widenColumn($table): ${field.dataType.catalogString} -> " +
          s"${newType.catalogString} is not a widening promotion — allowed: " +
          "tinyint/smallint/int upward to bigint, float -> double, " +
          "decimal(p,s) -> decimal(p'>p,s); anything else would fork the " +
          "log's value history")
      // field metadata (column-mapping physical name, comments) rides the
      // widen untouched: the file bytes and their physical name are stable
      val widened = org.apache.spark.sql.types.StructType(current.fields.map { f =>
        if (f.name == name) f.copy(dataType = newType) else f
      })
      // a racing schema evolution recomputes against the new head (the
      // narrowing rule, as rename: a union merge of narrow-vs-wide
      // fields would be ambiguous; serial re-validation never is)
      verdict(commit(table, b, snapVersion, adds = Seq.empty, removes = Seq.empty,
        schema = widened.json, schemaNarrowing = true))
    }
  }

  /** Append-only commit: new data files, no removals. Always safe under
    * concurrency (an empty removal set can never conflict with another
    * writer's read set — the commit loop just re-claims above whatever
    * head it finds), so concurrent appenders all land. The shape
    * ingest-style state tables need: [[graft.streaming.DocStream]]
    * commits each micro-batch's survivors this way — a torn multi-file
    * append becomes impossible because the manifest IS the commit. */
  def append(spark: SparkSession, table: String, df: DataFrame, keyCol: String): Unit =
    if (!df.isEmpty) optimistically { b =>
      requireKeyMatch(table, keyCol)
      val (snapVersion, liveNow, committedSchema) = snapshotWithSchema(table, None)
      // A PRE-EVOLUTION table (every manifest carries an empty schema) has
      // live files whose shape the log doesn't know — but line "schema ="
      // below COMMITS the batch's schema as the table's, and readers apply
      // the latest committed schema to the whole snapshot. Skipping the
      // compatibility/union step here would let a narrower batch
      // permanently hide the legacy files' missing columns (and a same-name
      // different-type batch poison every later read). Infer the legacy
      // shape from the live files' parquet footers (one footer read, once
      // per legacy table — every commit after this carries a schema) and
      // run the SAME evolution logic.
      val snapSchema = snapshotSchema(spark, table, liveNow, committedSchema)
      // schema evolution on append: the committed schema is the union of
      // the table's columns and the batch's (new columns surface as typed
      // NULLs on older files at read time — see readFiles)
      val evolved = snapSchema match {
        case Some(sc) =>
          requireCompatible(sc, df, "append")
          requireNoPhysicalCarriers(table, liveNow,
            df.schema.fieldNames.toSeq.filterNot(sc.fieldNames.toSet), "append")
          // canonical order: the table's columns first (batch-missing ones
          // as typed NULLs), then any genuinely new columns from the batch
          val have = df.schema.fieldNames.toSet
          val tableCols = sc.fields.toSeq.map(f =>
            if (have(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name))
          val newCols = df.schema.fieldNames.toSeq
            .filterNot(sc.fieldNames.toSet).map(col(_))
          df.select(tableCols ++ newCols: _*)
        case None => df
      }
      val adds = writeData(spark, table, evolved, keyCol)
      // Stale only when a racer NARROWED the schema under us (drop/rename
      // landed after our snapshot — removal conflicts stay impossible with
      // empty removes): the recompute from the fresh head reproduces the
      // serial drop-then-append outcome (loud refusal when the batch
      // re-adds a physically-carried column). A stale attempt's staged
      // files stay as crash-orphans until vacuum.
      if (adds.isEmpty) Some(false)
      else verdict(commit(table, b, snapVersion, adds, removes = Seq.empty,
        // restamp: evolved came through select(), which drops the rename-
        // mapping metadata a renamed table's committed schema must keep
        schema = restampMapping(snapSchema, evolved.schema).json, keyCol = keyCol))
    }

  /** One committed version's shape, for operator observability
    * ([[history]] / `CALL system.snapshots`). `addedRows` is the
    * manifest row sum of the commit's adds — exact, zero file reads. */
  final case class SnapshotInfo(
      version: Long, addedFiles: Int, addedRows: Long, removedFiles: Int,
      checkpoint: Boolean, txns: Map[String, Long], commitTsMillis: Long = 0L,
      // dead keys this commit marked via deletion vectors (the
      // merge-on-read delta size — an operator watching vectors pile up
      // knows when to compact)
      dvKeys: Long = 0L,
      // positional-vector sidecars this commit attached (the BULK
      // merge-on-read pressure signal: key counts live off-manifest in
      // the bitmaps, but sidecar count per file is the same
      // compact()-when-piling-up cue, manifest-only)
      dvPosFiles: Long = 0L)

  /** The commit history still present in the log (oldest first; history
    * below a truncation checkpoint is gone by design). Manifest-only —
    * zero data file reads. */
  def history(table: String): Seq[SnapshotInfo] =
    manifests(table).map(m => SnapshotInfo(
      m.version, m.adds.size, m.adds.map(_.rows).sum, m.removes.size,
      m.checkpoint, m.txns, commitTs(table, m),
      m.dvs.valuesIterator.map(_.size.toLong).sum,
      m.dvp.valuesIterator.map(_.size.toLong).sum))

  /** A commit's wall-clock: the manifest's stamped ts, or the manifest
    * FILE's mtime for pre-r13 commits (best effort — the Delta legacy
    * fallback; a copied/restored log loses it, a stamped one doesn't). */
  private def commitTs(table: String, m: Manifest): Long =
    if (m.ts > 0L) m.ts
    else try Files.getLastModifiedTime(versionPath(table, m.version)).toMillis
    catch { case _: java.io.IOException => 0L }

  /** `TIMESTAMP AS OF` resolution: the snapshot a reader at `tsMillis`
    * would have seen — the LAST version committed at or before it.
    * Before-creation timestamps fail loudly (there is no snapshot to
    * serve; silently serving v1 would invent history). Commit times are
    * MONOTONIZED here, not trusted raw: each manifest's ts is stamped by
    * whichever process commits, so concurrent writers on skewed clocks
    * (or an NTP step-back between commits) can record ts(v+1) < ts(v) —
    * resolving against the raw values would answer inconsistently
    * (a later instant mapping to an EARLIER version). Folding
    * max(ts, prev) over version order — the Delta resolution rule —
    * restores the invariant every reader assumes: version order IS time
    * order. Ties resolve to the highest version, matching "what was
    * live at that instant". */
  def versionAtTimestamp(table: String, tsMillis: Long): Long = {
    val ms = manifests(table)
    require(ms.nonEmpty, s"versionAtTimestamp($table): table does not exist")
    val monotone = ms.scanLeft(0L) { (prev, m) =>
      math.max(prev, commitTs(table, m))
    }.tail
    val at = ms.zip(monotone).filter { case (_, ts) => ts <= tsMillis }
    if (at.isEmpty) throw new IllegalArgumentException(
      s"versionAtTimestamp($table): $tsMillis predates the earliest " +
        s"surviving commit (${monotone.head} at v${ms.head.version}) " +
        "— nothing was live then (or that history was truncated)")
    at.map(_._1.version).max
  }

  /** The appId is a manifest JSON key: structural characters would let
    * it terminate the flat-regex txns block early and silently LOSE the
    * watermark — the exactly-once fence would stop fencing. One guard,
    * shared by every epoch-fenced entry point. */
  private def requireManifestSafeAppId(appId: String, op: String): Unit = {
    require(appId.nonEmpty, s"$op: appId must be non-empty")
    require(!appId.exists(c => "{}[]\":,\\".contains(c) || c < 0x20),
      s"$op: appId '$appId' carries JSON-structural or control " +
        "characters — use a plain identifier (Spark query ids are)")
  }

  /** Highest epoch `appId` has committed to `table`, or None if never —
    * the streaming sink's replay watermark (fold of the manifests' txns
    * maps; checkpoints carry the fold-to-date, so truncated history
    * keeps the answer exact). */
  def lastTxnEpoch(table: String, appId: String): Option[Long] =
    manifests(table).flatMap(_.txns.get(appId)).maxOption

  /** One streaming micro-batch as one transactional append commit: the
    * task-written parquet parts named by `partFiles` (inside `staging`)
    * register with footer stats and land as ONE manifest carrying
    * `txns = appId -> epochId`. Exactly-once: if the log already
    * records this app at this epoch or beyond, the call is a REPLAY of
    * an acknowledged batch (micro-batch retry, restarted driver) and
    * commits nothing (returns false); the same fence re-checks inside
    * the commit race loop, so even two concurrent attempts of one epoch
    * cannot both land. Schema evolution matches [[append]]: the
    * committed schema is the union of the table's and the stream's
    * (type drift fails loudly), older files serve typed NULLs. The
    * caller owns staging cleanup. */
  def commitStreamingEpoch(
      spark: SparkSession, table: String, staging: Path,
      partFiles: Set[String], streamSchema: org.apache.spark.sql.types.StructType,
      keyCol: String, appId: String, epochId: Long,
      replaceAll: Boolean = false,
      writtenMapping: Map[String, String] = Map.empty): Boolean = {
    requireManifestSafeAppId(appId, "commitStreamingEpoch")
    requireKeyMatch(table, keyCol)
    if (lastTxnEpoch(table, appId).exists(_ >= epochId)) return false
    // RENAMED tables: the sink's tasks wrote this epoch's parts under
    // the PHYSICALIZED schema pinned at stream start (LogStreamingWrite)
    // — register them under physical names/key; a rename landing
    // mid-stream fails the epoch loudly (the restart re-pins). A stream
    // whose own schema still carries a renamed-away LOGICAL name reads
    // as an evolution of that name and refuses on the physical-carrier
    // rule below — the rename-crossing stream is ambiguous by design.
    val mapping = requireMappingStable(table, writtenMapping,
      "LogTable streaming append sink")
    val (snapVersion, liveNow, committedSchema) = snapshotWithSchema(table, None)
    val evolved = snapshotSchema(spark, table, liveNow, committedSchema) match {
      case Some(sc) =>
        streamSchema.fields.foreach { f =>
          sc.fields.find(_.name == f.name).foreach { ex =>
            require(ex.dataType.catalogString == f.dataType.catalogString,
              s"LogTable streaming sink: column ${f.name} arrives as " +
                s"${f.dataType.catalogString} but the table holds " +
                s"${ex.dataType.catalogString} — type changes are not " +
                "evolution; cast the stream or migrate explicitly")
          }
        }
        val have = sc.fieldNames.toSet
        // same re-add-after-DROP guard as the batch write paths: a
        // stream whose schema still carries a dropped column must not
        // evolve it back while live files hold the old bytes (replaceAll
        // removes every old file in the same commit, so Complete mode
        // cannot resurface anything and skips the check)
        if (!replaceAll)
          requireNoPhysicalCarriers(table, liveNow,
            streamSchema.fieldNames.toSeq.filterNot(have), "streaming sink")
        org.apache.spark.sql.types.StructType(
          sc.fields ++ streamSchema.fields.filterNot(f => have(f.name)))
      case None => streamSchema
    }
    val adds = registerStaged(spark, table, staging,
      physicalized(streamSchema, mapping),
      mapping.getOrElse(keyCol, keyCol), onlyFiles = Some(partFiles))
    // in APPEND mode an empty epoch appends nothing — and must NOT
    // advance the txn watermark with a data-less manifest (replaying it
    // is free; an empty commit per idle trigger would grow the log
    // unboundedly). In COMPLETE mode an empty state is a real result:
    // the epoch truncates the table.
    if (adds.isEmpty && !replaceAll) false
    else if (!replaceAll)
      landedOrFail(
        commit(table, new Budget, snapVersion, adds, removes = Seq.empty,
          schema = evolved.json, keyCol = keyCol, txns = Map(appId -> epochId)),
        new IllegalStateException(
          s"commitStreamingEpoch($table) hit a removal conflict — impossible " +
            "with empty removes"))
    // Complete output mode: the epoch's state REPLACES the table — one
    // versioned remove-all+add commit, the continuously-refreshed
    // materialized-view shape. A racing writer's conflict recomputes the
    // remove set from the fresh file list (its rows are superseded by
    // this epoch's complete state anyway); the txn fence still drops
    // duplicate attempts of the same epoch. keyRange spans everything: a
    // REPLACE-ALL commit conflicts with ANY racer's adds (a concurrent
    // append's file must not survive the epoch that replaces the table).
    else optimistically { b =>
      val (sv, live, _) = snapshotWithSchema(table, None)
      verdict(commit(table, b, sv, adds, removes = live.map(_.file),
        schema = evolved.json, keyCol = keyCol,
        keyRange = Some((Long.MinValue, Long.MaxValue)),
        txns = Map(appId -> epochId)))
    }
  }

  /** RESTORE (the Delta RESTORE / Iceberg rollback verb): roll the
    * table's CONTENTS back to `toVersion` as one NEW commit — removes
    * the current live files, re-adds the files live at `toVersion`,
    * commits the schema of that snapshot. History stays intact (the
    * restore itself is a version; the mistaken commits remain
    * time-travelable until truncateHistory drops them), and the
    * restored files are still on disk because vacuum never deletes a
    * manifest-referenced file. Restoring below a truncation checkpoint
    * fails loudly — those files are gone. A racer's commit conflicts
    * via the full-range added-file rule (a restore supersedes anything
    * that lands mid-flight; re-run recomputes the remove set). Returns
    * (files, rows) of the restored snapshot. */
  def restore(table: String, toVersion: Long): (Int, Long) = {
    requireNotTruncated(table, toVersion)
    val headV = version(table)
    require(toVersion >= 1 && toVersion <= headV,
      s"restore($table): version $toVersion outside [1, $headV]")
    // the restored snapshot is immutable history: only the remove set
    // (the head's live files) is recomputed by a race
    val (_, liveThen, schemaThen) = snapshotWithSchema(table, Some(toVersion))
    val dvsThen = liveDvState(table, Some(toVersion))
    optimistically { b =>
      val (headNow, liveNow, _) = snapshotWithSchema(table, None)
      verdict(commit(table, b, headNow, adds = liveThen,
        removes = liveNow.map(_.file),
        schema = schemaThen.map(_.json).getOrElse(""),
        keyRange = Some((Long.MinValue, Long.MaxValue)),
        keyCol = tableKeyCol(table).getOrElse(""),
        // the restored snapshot's DELETION VECTORS come back with it —
        // re-adding the files without them would resurrect vector-dead
        // rows (fold order per manifest: removes, adds, then dvs). Both
        // kinds; positional sidecars are manifest-referenced so vacuum
        // kept them on disk.
        dvs = dvsThen.keys, dvp = dvsThen.pos))
    }
    (liveThen.size, liveThen.map(_.rows).sum)
  }

  /** `INSERT OVERWRITE` / `mode("overwrite")`: replace the table's
    * contents with `df` as ONE VERSIONED commit — removes every live
    * file, adds the batch's. This is ordinary log history (time travel
    * to the pre-overwrite snapshot still works; `truncateHistory`
    * remains the only explicitly-destructive verb). Concurrency: the
    * remove set is the pinned snapshot, so a racer's commit forces a
    * re-run against the fresh file list — last overwrite wins, which is
    * the verb's contract. */
  def overwriteAll(
      spark: SparkSession, table: String, df: DataFrame, keyCol: String): Unit = {
    requireKeyMatch(table, keyCol)
    optimistically { b =>
      val (snapVersion, liveNow, snapSchema) = snapshotWithSchema(table, None)
      val adds = writeData(spark, table, df, keyCol)
      // full-range keyRange: replace-all conflicts with ANY racer's
      // adds (their file must not survive the overwrite) — the
      // added-file check forces the recompute that refreshes the removes
      verdict(commit(table, b, snapVersion, adds, removes = liveNow.map(_.file),
        // restamp: the caller's batch schema carries no rename-mapping
        // metadata, but the files were written under physical names
        schema = restampMapping(snapSchema, df.schema).json, keyCol = keyCol,
        keyRange = Some((Long.MinValue, Long.MaxValue))))
    }
  }

  /** Keyed upsert (the reference's delete-then-insert, K2/K3): rows of
    * `incoming` replace same-key rows. Only data files whose key range
    * intersects the incoming batch's are read and rewritten — manifest
    * stats make the nightly delta O(touched files), not O(table). Safe
    * under concurrent upserts: commit-time validation re-runs the
    * upsert against the fresh snapshot when a racer rewrote the same
    * files, and simply re-versions when it didn't. */
  def upsert(spark: SparkSession, table: String, incoming: DataFrame, keyCol: String): Unit =
    upsertImpl(spark, table, incoming, keyCol, txns = Map.empty)

  /** MERGE-ON-READ keyed upsert (deletion vectors — the Delta DV /
    * Iceberg merge-on-read mechanic, keyed by primary key): semantically
    * identical to [[upsert]], but instead of REWRITING every touched
    * file it (1) appends the incoming rows as new files and (2) marks
    * the incoming keys DEAD in each touched file via a manifest
    * deletion vector — so a 10-key merge into a table of 10 GB files
    * commits in milliseconds and rewrites ZERO data files
    * (LogTableSpec pins the file set). Readers apply the vectors as one
    * bounded broadcast anti-join ([[readFiles]]); every later rewrite
    * of a vectored file purges its vector, and [[compact]] is the
    * explicit vacuum. The trade is the published formats': reads carry
    * the (small) vector until maintenance. Batches above [[DvMaxKeys]]
    * distinct keys stay merge-on-read through [[upsertPositional]]
    * (roaring-bitmap sidecars — no cap); the inline key-set shape is
    * kept for small deltas where it reads straight from the manifest. */
  def upsertDV(
      spark: SparkSession, table: String, incoming: DataFrame,
      keyCol: String): Unit = {
    requireKeyMatch(table, keyCol)
    val inc = incoming.localCheckpoint(false)
    // driver-held key set: bounded by DvMaxKeys BY CONTRACT; the batch is
    // checkpointed, so one sample serves every recompute
    val keys = keySample(inc, keyCol)(
      s"upsertDV($table): NULL key(s) in the batch — keyed-table keys " +
        "are NOT NULL (a NULL key can never be upserted, deleted, or " +
        "merged); fill or filter them before the write")
    // BULK batch: same merge-on-read semantics through POSITIONAL bitmap
    // sidecars — no key budget, keys never collect
    if (keys.length > DvMaxKeys) upsertPositional(spark, table, inc, keyCol)
    else if (keys.nonEmpty) optimistically { b => // empty batch: no-op (P11)
      val (snapVersion, snapshot, snapSchema) = snapshotWithSchema(table, None)
      snapSchema.foreach { sc =>
        requireCompatible(sc, inc, "upsertDV")
        requireNoPhysicalCarriers(table, snapshot,
          inc.schema.fieldNames.toSeq.filterNot(sc.fieldNames.toSet), "upsertDV")
        // unlike the copy-on-write path there is no survivor-union to
        // carry batch-missing table columns: the appended file IS the
        // batch — require the full shape so no column silently NULLs
        require(inc.columns.toSet == sc.fieldNames.toSet,
          s"upsertDV($table): batch columns ${inc.columns.sorted.mkString(",")} " +
            s"must equal table columns ${sc.fieldNames.sorted.mkString(",")} — " +
            "align first (evolution goes through upsert/append)")
      }
      val dvAdds = sliceKeys(snapshot, keys)
      requireDvBudget(table, snapVersion, dvAdds, "upsertDV")
      val adds = writeData(spark, table, inc, keyCol)
      verdict(commit(table, b, snapVersion, adds, removes = Seq.empty,
        schema = snapSchema.map(_.json).getOrElse(inc.schema.json),
        keyRange = Some((keys.min, keys.max)), keyCol = keyCol, dvs = dvAdds))
    }
  }

  /** MERGE-ON-READ multi-clause MERGE — the deletion-vector twin of
    * [[merge]] (same clause semantics: `updateWhen` / `deleteWhen` SQL
    * conditions over the matched pair with `_src_` source columns,
    * `insertUnmatched` toggle; [[upsertDV]] is its update-all special
    * case): the touched files are READ (conditions need the matched
    * pair — no merge dialect avoids that scan) but never REWRITTEN —
    * matched rows that update or delete become per-file dead keys in
    * the manifest, updated images and unmatched inserts land as new
    * appended files, and untouched rows stay in place. A 10-key
    * conditional MERGE into 10 GB files commits the 10 keys and a tiny
    * append (LogTableSpec pins the zero-rewrite file set and equality
    * with the copy-on-write [[merge]]). Affected-key sets within
    * [[DvMaxKeys]] commit as inline key vectors (readable straight from
    * the manifest); LARGER merges fall back to POSITIONAL bitmap
    * sidecars in the same attempt — still one commit, still zero
    * rewrites, no cap (the dying rows' (file, position) pairs land as
    * roaring bitmaps; the bulk keys never collect to the driver). */
  def mergeDV(
      spark: SparkSession, table: String, source: DataFrame, keyCol: String,
      updateWhen: Option[String] = Some("true"),
      deleteWhen: Option[String] = None,
      insertUnmatched: Boolean = true): Unit = {
    requireKeyMatch(table, keyCol)
    val src = source.localCheckpoint(false)
    val srcCols = src.columns.toSeq
    // one attempt at one strategy: inline KEY vectors, or POSITIONAL
    // sidecars once the dying keys overflow the key budget
    def mergeOnce(bulk: Boolean, b: Budget, lo: Long, hi: Long): Option[Boolean] = {
      val (snapVersion, snapshot, snapSchema) = snapshotWithSchema(table, None)
      snapSchema.foreach { sc =>
        require(srcCols.toSet == sc.fieldNames.toSet,
          s"LogTable mergeDV: source columns ${srcCols.sorted.mkString(",")} " +
            s"must equal table columns ${sc.fieldNames.sorted.mkString(",")} — align first")
        requireCompatible(sc, src, "mergeDV")
      }
      val touched = snapshot.filter(f => f.minKey <= hi && f.maxKey >= lo)
      val dvsLive = liveDvState(table, Some(snapVersion))
      // the bulk path needs (file, row-index) on the target side; the
      // key path reads plainly — both apply the live vectors
      val (tgt, posCols) =
        if (touched.isEmpty) (emptyLike(spark, snapSchema, src), None)
        else if (bulk) {
          val (df, fc, pc) = scanLiveWithPositions(
            spark, table, touched, snapSchema, dvsLive, keyCol)
          (df, Some((fc, pc)))
        } else
          (readFiles(spark, table, touched, snapSchema, dvsLive), None)
      // ONE simultaneous projection, not chained withColumnRenamed: the
      // fold re-analyzed a growing plan once per source column — pure
      // per-execution planning cost (and the changes() cyclic-rename
      // lesson says folds over renames are the fragile spelling anyway)
      val prefixed = src.select(srcCols.map(c => col(c).as(s"_src_$c")): _*)
      // NOT persisted across its two consumers (the dead-row collect and
      // the append write), deliberately: the join re-executes, but both
      // executions are codegen'd broadcast joins over the pruned touched
      // read — measured CHEAPER than a memory-store round trip that also
      // breaks the consumers' whole-stage pipelines (r16 pair C: persist
      // read 1.48 s where the recompute reads 0.82).
      // RIGHT outer, not full: unmatched TARGET rows contribute nothing
      // to this verb (they never die and never append — the delta leaves
      // them untouched by definition), and full_outer would FORCE a
      // shuffle plan (Spark has no broadcast full-outer hash join) where
      // right_outer admits a broadcast-hash plan at all. Note the
      // broadcastable side of a right-outer join is the LEFT (build)
      // side — here the PRUNED TARGET READ, not the source: in the
      // small-delta shape the touched read is a handful of files and
      // Catalyst/AQE broadcasts it while streaming the source (measured:
      // k24 13 jobs → broadcast plan, both executions single-stage). A
      // merge whose touched read is large (10-key merge into 10 GB
      // files) correctly plans a shuffle join — still O(touched files).
      val joined = tgt.withColumn("_tgt_hit", lit(1))
        .join(prefixed.withColumn("_src_hit", lit(1)),
          col(keyCol) === col(s"_src_$keyCol"), "right_outer")
      val matched = col("_tgt_hit").isNotNull && col("_src_hit").isNotNull
      // SQL WHEN semantics exactly as [[merge]]: NULL clause = not taken
      val del = coalesce(
        deleteWhen.map(e => matched && expr(e)).getOrElse(lit(false)), lit(false))
      val upd = coalesce(
        updateWhen.map(e => matched && expr(e)).getOrElse(lit(false)), lit(false))
      // the DELTA, not the survivors: dead rows (matched rows that
      // delete or update in place) + appended rows (updated images and
      // unmatched inserts). Everything else never moves.
      val dies = del || (!del && upd)
      val appendSrc = joined
        .filter((matched && !del && upd) ||
          (col("_tgt_hit").isNull && lit(insertUnmatched)))
        .select(srcCols.map(c => col(s"_src_$c").as(c)): _*)
      if (bulk) {
        // POSITIONAL fallback: the dying rows' (file, position) pairs
        // become roaring sidecars — no key budget, keys never collect
        val (fc, pc) = posCols.getOrElse(("", ""))
        val entries =
          if (posCols.isEmpty) Map.empty[String, Seq[String]]
          else positionsToSidecars(spark, table, joined.filter(dies)
            .select(col(fc).as("_f"), col(pc).as("_p")))
        if (entries.isEmpty && appendSrc.isEmpty) return Some(false)
        val adds = writeData(spark, table, appendSrc, keyCol)
        return verdict(commit(table, b, snapVersion, adds, removes = Seq.empty,
          schema = snapSchema.map(_.json).getOrElse(src.schema.json),
          keyRange = Some((lo, hi)), keyCol = keyCol, dvp = entries,
          requireLive = touched.map(_.file)))
      }
      // SOURCE-DECIDABLE fast path: when every WHEN condition references
      // only `_src_` columns (k24's shape — `_src_status = 'F'`), a
      // matched row's fate is decided by its source image alone, so the
      // dead-key set is {source keys where del ∨ upd} with NO join —
      // keys that match no target row are marked harmlessly (no live
      // file contains them; the read-side anti-join simply misses),
      // exactly [[upsertDV]]'s stats-range argument. This drops the
      // joined-filter collect's second join execution + broadcast build
      // per statement. Conditions touching target columns (or a target
      // column named `_src_*`, which would make the reference check
      // ambiguous) keep the exact joined path below.
      val condExprs = Seq(updateWhen, deleteWhen).flatten
      val condSrcOnly = !srcCols.exists(_.startsWith("_src_")) &&
        condExprs.forall { e =>
          val ex = org.apache.spark.sql.GraftColumnBridge.expression(expr(e))
          // subqueries hide their references behind a plan boundary the
          // expression collect below cannot see — never fast-path them
          val refsSrcOnly =
            !ex.exists(_.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.SubqueryExpression]) &&
            ex.collect {
              case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                a.name
            }.forall(_.startsWith("_src_"))
          // determinism must be judged on the RESOLVED tree: pre-analysis
          // a nondeterministic function is an UnresolvedFunction, whose
          // default deterministic=true would wave rand()-style conditions
          // through — resolve against the source projection (its columns
          // are the only legal references once refsSrcOnly holds) and
          // check the analyzed expressions; anything that fails analysis
          // keeps the exact joined path
          refsSrcOnly && (try {
            prefixed.select(expr(e)).queryExecution.analyzed
              .expressions.forall(_.deterministic)
          } catch { case scala.util.control.NonFatal(_) => false })
        }
      val deadRows =
        if (condSrcOnly) {
          if (condExprs.isEmpty) Array.empty[Long]
          else {
            // same NULL-means-not-taken semantics as del/upd above; a
            // NULL source key matches nothing (the equi-join misses),
            // so it can never die — filter it like the joined path
            // implicitly does.
            // MEMBERSHIP-exact dead keys in ONE job: the LIVE touched
            // read's key column (tgt already applies the live vectors,
            // so a key that is only present DEAD correctly drops out)
            // semi-joined against the source keys whose source-decided
            // fate is "dies". Keys that match no live target row never
            // mint DV entries — on upsert streams whose new keys
            // interleave into existing file ranges they would otherwise
            // accumulate one phantom per key per commit, bloating every
            // read's anti-join and eventually tripping the
            // requireDvBudget hard stop on merges that change nothing
            // (keys outside every touched range are subsumed: they are
            // not in tgt). This is still far cheaper than the joined
            // path's full-width second join execution — one key-pruned
            // scan of the touched files against the checkpointed source
            // — and it restores exact key-set parity with that path.
            // Overflow (> budget) falls to the positional bulk path.
            if (touched.isEmpty) Array.empty[Long]
            else {
              val k = col(s"_src_$keyCol").cast("long")
              val anyDies = condExprs
                .map(e => coalesce(expr(e), lit(false))).reduceLeft(_ || _)
              val cand = prefixed.filter(anyDies && k.isNotNull)
                .select(k.as("_k")).distinct()
              tgt.select(col(keyCol).cast("long").as("_k"))
                .join(cand, Seq("_k"), "left_semi").distinct()
                .limit(DvMaxKeys + 1).collect().map(_.getLong(0))
            }
          }
        } else joined.filter(dies)
          .select(col(keyCol).cast("long")).distinct()
          .limit(DvMaxKeys + 1).collect().map(_.getLong(0))
      if (deadRows.length > DvMaxKeys) return mergeOnce(bulk = true, b, lo, hi)
      if (deadRows.isEmpty && appendSrc.isEmpty) return Some(false)
      val dvAdds = sliceKeys(snapshot, deadRows.toSeq)
      requireDvBudget(table, snapVersion, dvAdds, "mergeDV")
      val adds = writeData(spark, table, appendSrc, keyCol)
      verdict(commit(table, b, snapVersion, adds, removes = Seq.empty,
        schema = snapSchema.map(_.json).getOrElse(src.schema.json),
        keyRange = Some((lo, hi)), keyCol = keyCol, dvs = dvAdds,
        // decisions were computed FROM the touched files without
        // removing them — validate they (and their vector state) are
        // unchanged at commit, or recompute
        requireLive = touched.map(_.file)))
    }
    // a recompute re-decides the strategy against the fresh snapshot
    keyBounds(src, keyCol).foreach { case (lo, hi) =>
      optimistically(mergeOnce(bulk = false, _, lo, hi))
    }
  }

  /** MERGE-ON-READ key delete: mark `keys` dead everywhere their value
    * could live — zero reads, zero rewrites, one manifest commit (the
    * GDPR-erasure shape at interactive latency; the bytes linger until
    * [[compact]]/rewrite, exactly the published formats' DV trade).
    * Bounded by [[DvMaxKeys]]; bulk ranges belong on [[deleteRange]]. */
  def deleteKeysDV(
      spark: SparkSession, table: String, keyCol: String,
      keys: Seq[Long]): Unit = {
    requireKeyMatch(table, keyCol)
    if (keys.isEmpty) return
    require(keys.length <= DvMaxKeys,
      s"deleteKeysDV($table): ${keys.length} keys > $DvMaxKeys — deletion " +
        "vectors are the small-delta path; use deleteRange/deleteWhere")
    val distinctKeys = keys.distinct
    optimistically { b =>
      val (snapVersion, snapshot, _) = snapshotWithSchema(table, None)
      val dvAdds = sliceKeys(snapshot, distinctKeys)
      if (dvAdds.isEmpty) Some(false) // no file could hold any key: no-op
      else {
        requireDvBudget(table, snapVersion, dvAdds, "deleteKeysDV")
        verdict(commit(table, b, snapVersion, adds = Seq.empty, removes = Seq.empty,
          keyRange = Some((distinctKeys.min, distinctKeys.max)),
          keyCol = tableKeyCol(table).getOrElse(""), dvs = dvAdds))
      }
    }
  }

  /** The upsert engine, with optional transactional-epoch fencing
    * (`txns`): returns whether a manifest landed — false only when the
    * commit loop's fence dropped this commit as a duplicate epoch, or
    * the batch was empty. */
  private def upsertImpl(
      spark: SparkSession, table: String, incoming: DataFrame,
      keyCol: String, txns: Map[String, Long]): Boolean = {
    requireKeyMatch(table, keyCol)
    // lazy checkpoint: the bounds aggregate right below is the first
    // action and populates the blocks — an EAGER checkpoint would spend
    // a whole separate job materializing first. Recomputes still reuse
    // the blocks, which is the point of checkpointing here.
    val inc = incoming.localCheckpoint(false)
    keyBounds(inc, keyCol).exists { case (lo, hi) => // empty batch: no-op (P11)
      optimistically { b =>
        // version and file set pinned TOGETHER: the commit below claims
        // exactly snapVersion+1 first, so any commit that landed after
        // this read is detected and validated, never silently skipped
        val (snapVersion, snapshot, snapSchema) = snapshotWithSchema(table, None)
        // type drift fails loudly BEFORE unionByName can coerce it away
        // (long ∪ string would silently widen every key to string)
        snapSchema.foreach { sc =>
          requireCompatible(sc, inc, "upsert")
          requireNoPhysicalCarriers(table, snapshot,
            inc.schema.fieldNames.toSeq.filterNot(sc.fieldNames.toSet), "upsert")
        }
        val touched = snapshot.filter(f => f.minKey <= hi && f.maxKey >= lo)
        val survivors =
          if (touched.isEmpty) emptyLike(spark, snapSchema, inc)
          // DVs pinned at the same snapshot: the rewrite reads the LIVE
          // rows (vectors applied) and its commit removes the files, which
          // purges their vectors in the same fold step
          else readFiles(spark, table, touched, snapSchema,
            liveDvState(table, Some(snapVersion)))
            .join(inc.select(col(keyCol)), Seq(keyCol), "left_anti")
        // allowMissingColumns: a batch with a NEW column evolves the
        // table (survivors carry NULLs); a batch MISSING a table column
        // keeps it (the batch's rows carry NULLs)
        val merged = survivors.unionByName(inc, allowMissingColumns = true)
        val adds = writeData(spark, table, merged, keyCol)
        verdict(commit(table, b, snapVersion, adds, removes = touched.map(_.file),
          // restamp: unionByName drops the rename-mapping field metadata
          schema = restampMapping(snapSchema, merged.schema).json,
          keyRange = Some((lo, hi)), keyCol = keyCol, txns = txns))
      }
    }
  }

  /** One streaming micro-batch as one FENCED KEYED UPSERT (the Update
    * output mode / `.option("upsert", true)` sink shape): the staged
    * parts are the incoming rows, same-key table rows are replaced,
    * everything else appends — the incremental-materialized-view
    * refresh, with the same (appId, epochId) exactly-once fence as
    * [[commitStreamingEpoch]]. The staged parts are INPUT only (the
    * merged output is rewritten with the survivors); the caller sweeps
    * staging either way. */
  def upsertEpoch(
      spark: SparkSession, table: String, staging: Path,
      partFiles: Set[String], streamSchema: org.apache.spark.sql.types.StructType,
      keyCol: String, appId: String, epochId: Long): Boolean = {
    requireManifestSafeAppId(appId, "upsertEpoch")
    if (lastTxnEpoch(table, appId).exists(_ >= epochId)) return false
    if (partFiles.isEmpty) return false
    // MERGE-ON-READ streaming (the per-table `rowLevel` policy, same as
    // the SQL row-level path): the epoch commits as a DV DELTA — the
    // staged parts REGISTER as appends (no re-write; their footers were
    // already cut by the stream tasks) and the epoch's keys die via
    // manifest vectors. ONE fenced commit, ZERO table files rewritten
    // (LogSinkSpec pins the file set and the change-feed read). Epochs
    // the vector budget cannot carry — bulk batches, budget-exhausted
    // files, schema evolution, renamed tables — fall back to the
    // copy-on-write rewrite below, which also purges accumulated
    // vectors: the stream stays alive and the policy degrades loudly in
    // the log rather than failing the query.
    if (tableProps(table).get("rowLevel").contains("merge-on-read"))
      upsertEpochDV(spark, table, staging, partFiles, streamSchema,
        keyCol, appId, epochId).foreach(return _)
    val incoming = spark.read.schema(streamSchema).parquet(
      partFiles.toSeq.sorted.map(staging.resolve(_).toString): _*)
    upsertImpl(spark, table, incoming, keyCol,
      txns = Map(appId -> epochId))
  }

  /** The merge-on-read epoch commit: `Some(landed)` when the DV path
    * carried it, `None` when the caller must fall back to copy-on-write
    * (over-budget epoch, schema evolution in flight, renamed table). */
  private def upsertEpochDV(
      spark: SparkSession, table: String, staging: Path,
      partFiles: Set[String], streamSchema: org.apache.spark.sql.types.StructType,
      keyCol: String, appId: String, epochId: Long): Option[Boolean] = {
    val (snapVersion0, snapshot0, snapSchema0) = snapshotWithSchema(table, None)
    // the DV epoch registers parts as-is: exact-shape epochs only
    // (evolution appends columns → the rewrite path aligns), and never
    // across a column mapping (parts carry logical names)
    snapSchema0 match {
      case Some(sc) =>
        if (streamSchema.fieldNames.toSet != sc.fieldNames.toSet ||
            streamSchema.fields.exists(f =>
              sc.fields.exists(x => x.name == f.name &&
                x.dataType.catalogString != f.dataType.catalogString)) ||
            mappingOf(Some(sc)).nonEmpty) return None
      case None => ()
    }
    val incoming = spark.read.schema(streamSchema).parquet(
      partFiles.toSeq.sorted.map(staging.resolve(_).toString): _*)
    // the NULL-key contract holds on the full frame even for bulk
    // epochs that return None into the rewrite path
    val keys = keySample(incoming, keyCol)(
      s"streaming upsert epoch on $table: NULL key(s) in the batch — " +
        "keyed-table keys are NOT NULL; fill or filter them before the write")
    if (keys.isEmpty) return Some(false)
    if (keys.length > DvMaxKeys) return None // bulk epoch: rewrite path
    // accumulation budget probed BEFORE the parts register: past it the
    // epoch takes the rewrite (which purges the vectors — self-healing)
    val acc = liveDvs(table, Some(snapVersion0))
    val over = sliceKeys(snapshot0, keys).exists { case (f, ks) =>
      acc.get(f).map(_.size.toLong).getOrElse(0L) + ks.size > DvMaxKeys * 4L
    }
    if (over) return None
    val adds = registerStaged(spark, table, staging, streamSchema, keyCol,
      onlyFiles = Some(partFiles))
    if (adds.isEmpty) return Some(false)
    Some(optimistically { b =>
      val (snapVersion, snapshot, snapSchema) = snapshotWithSchema(table, None)
      val dvAdds = sliceKeys(snapshot, keys)
      // a racer inflating a file past the budget between the probe and
      // this attempt fails loudly; the restarted query's replay re-probes
      // at the new head and falls back to the rewrite
      requireDvBudget(table, snapVersion, dvAdds, "upsertEpoch")
      verdict(commit(table, b, snapVersion, adds, removes = Seq.empty,
        schema = snapSchema.map(_.json).getOrElse(streamSchema.json),
        keyRange = Some((keys.min, keys.max)), keyCol = keyCol,
        txns = Map(appId -> epochId), dvs = dvAdds))
    })
  }

  /** Multi-clause MERGE (the lakehouse `MERGE INTO` surface; [[upsert]]
    * is the special case update-all-matched + insert-all-unmatched):
    * rows of `source` match table rows on `keyCol`, then per row
    *
    *   - matched and `deleteWhen`  → row deleted;
    *   - matched and `updateWhen`  → row replaced by the source row;
    *   - matched, neither          → target row kept;
    *   - source-only               → inserted when `insertUnmatched`;
    *   - target-only               → kept (untouched FILES never even
    *     rewrite: only key-range-overlapping files join the merge).
    *
    * Conditions are SQL expressions over the matched pair: target
    * columns by name, source columns as `_src_<name>` (e.g.
    * `"_src_status = 'F'"`). Source schema must match the table's
    * (align first — [[graft.etl.Load.alignColumns]]). Concurrency and
    * file pruning exactly as [[upsert]]. */
  def merge(
      spark: SparkSession, table: String, source: DataFrame, keyCol: String,
      updateWhen: Option[String] = Some("true"),
      deleteWhen: Option[String] = None,
      insertUnmatched: Boolean = true): Unit = {
    requireKeyMatch(table, keyCol)
    val src = source.localCheckpoint(false)
    val srcCols = src.columns.toSeq
    keyBounds(src, keyCol).foreach { case (lo, hi) =>
      optimistically { b =>
        val (snapVersion, snapshot, snapSchema) = snapshotWithSchema(table, None)
        // the documented precondition is LOUD: a narrower source would
        // silently NULL target-only columns on every kept row in a
        // touched file (the output is projected through the source's
        // column list)
        snapSchema.foreach { sc =>
          require(srcCols.toSet == sc.fieldNames.toSet,
            s"LogTable merge: source columns ${srcCols.sorted.mkString(",")} must " +
              s"equal table columns ${sc.fieldNames.sorted.mkString(",")} — align first")
          requireCompatible(sc, src, "merge")
        }
        val touched = snapshot.filter(f => f.minKey <= hi && f.maxKey >= lo)
        val tgt =
          if (touched.isEmpty) emptyLike(spark, snapSchema, src)
          else readFiles(spark, table, touched, snapSchema,
            liveDvState(table, Some(snapVersion)))
        // ONE simultaneous projection, not chained withColumnRenamed: the
        // fold re-analyzed a growing plan once per source column — pure
        // per-execution planning cost (and the changes() cyclic-rename
        // lesson says folds over renames are the fragile spelling anyway)
        val prefixed = src.select(srcCols.map(c => col(c).as(s"_src_$c")): _*)
        val joined = tgt.withColumn("_tgt_hit", lit(1))
          .join(prefixed.withColumn("_src_hit", lit(1)),
            col(keyCol) === col(s"_src_$keyCol"), "full_outer")
        val matched = col("_tgt_hit").isNotNull && col("_src_hit").isNotNull
        // SQL WHEN semantics: a NULL-valued clause is NOT-taken, never a
        // silent row drop (null would otherwise poison takeSrc/keepTgt)
        val del = coalesce(
          deleteWhen.map(e => matched && expr(e)).getOrElse(lit(false)), lit(false))
        val upd = coalesce(
          updateWhen.map(e => matched && expr(e)).getOrElse(lit(false)), lit(false))
        val takeSrc = (matched && !del && upd) ||
          (col("_tgt_hit").isNull && lit(insertUnmatched))
        val keepTgt = (matched && !del && !upd) || col("_src_hit").isNull
        val out = joined
          .filter(takeSrc || keepTgt)
          .select(srcCols.map(c =>
            when(takeSrc, col(s"_src_$c")).otherwise(col(c)).as(c)): _*)
        val adds = writeData(spark, table, out, keyCol)
        verdict(commit(table, b, snapVersion, adds, removes = touched.map(_.file),
          schema = snapSchema.map(_.json).getOrElse(src.schema.json),
          keyRange = Some((lo, hi)), keyCol = keyCol))
      }
    }
  }

  // ---- manifest-stats file admission (the graft-log scan's pruning) ----

  /** A typed [lo, hi] window against one manifest stats family — the
    * encoding [[graft.sources.v2.LogTableScanBuilder]] maps pushed
    * filters onto. */
  private[graft] sealed trait StatBound
  private[graft] final case class LongBound(lo: Long, hi: Long) extends StatBound
  private[graft] final case class DblBound(lo: Double, hi: Double) extends StatBound
  private[graft] final case class StrBound(lo: String, hi: String) extends StatBound

  /** File-level admission: a file with no stats for the column (all-NULL
    * there, or written before the column existed, or bounds dropped by a
    * safety policy) is conservatively KEPT. */
  private[graft] def admits(f: FileEntry, column: String, b: StatBound): Boolean =
    b match {
      case LongBound(lo, hi) =>
        f.cols.get(column).forall { case (mn, mx) => mn <= hi && mx >= lo }
      case DblBound(lo, hi) =>
        f.colsD.get(column).forall { case (mn, mx) => mn <= hi && mx >= lo }
      case StrBound(lo, hi) =>
        f.colsS.get(column).forall { case (mn, mx) =>
          mn.compareTo(hi) <= 0 && mx.compareTo(lo) >= 0 }
    }

  /** NULL-count admission: `IS NULL` needs at least one null in the
    * file, `IS NOT NULL` at least one non-null row. Files without a
    * recorded count (legacy manifests, unknown footer counts) admit. */
  private[graft] def admitsNull(f: FileEntry, column: String, wantNull: Boolean): Boolean =
    f.colsN.get(column).forall(n => if (wantNull) n > 0 else n < f.rows)

  /** Key-range delete (retention expiry, erasure requests — the bulk
    * companion to [[upsert]]'s delete-then-insert). Files FULLY covered
    * by [lo, hi] are dropped by a METADATA-ONLY commit: no read, no
    * rewrite, one manifest — at 100 TB an aged-out partition's worth of
    * data disappears in milliseconds. Only files that STRADDLE a range
    * boundary (at most a handful, by construction of the range) are
    * rewritten with their surviving rows. Concurrency as [[upsert]]:
    * optimistic commit, loser revalidates or recomputes. */
  def deleteRange(
      spark: SparkSession, table: String, keyCol: String,
      lo: Long, hi: Long): Unit = {
    require(lo <= hi, s"deleteRange: empty range [$lo, $hi]")
    requireKeyMatch(table, keyCol)
    optimistically { b =>
      val (snapVersion, snapshot, snapSchema) = snapshotWithSchema(table, None)
      val touched = snapshot.filter(f => f.minKey <= hi && f.maxKey >= lo)
      if (touched.isEmpty) Some(false)
      else {
        val straddling = touched.filterNot(f => lo <= f.minKey && f.maxKey <= hi)
        // a straddling file always has survivors (its min or max key lies
        // outside the range), so the rewrite below never produces an
        // empty add set for a non-empty straddle list
        val adds =
          if (straddling.isEmpty) Seq.empty
          else writeData(spark, table,
            readFiles(spark, table, straddling, snapSchema,
              liveDvState(table, Some(snapVersion)))
              .filter(col(keyCol) < lo || col(keyCol) > hi), keyCol)
        verdict(commit(table, b, snapVersion, adds, removes = touched.map(_.file),
          schema = snapSchema.map(_.json).getOrElse(""),
          keyRange = Some((lo, hi)), keyCol = keyCol))
      }
    }
  }

  /** General predicate delete — the SQL `DELETE FROM ... WHERE` shape
    * ([[graft.sources.v2.LogTableTable]] bridges Spark's SupportsDelete
    * here; the reference's delete-then-insert issues exactly this,
    * load.py). Only files `fileAdmit` keeps are touched (the caller
    * derives admission from the SAME manifest-stats machinery scans
    * prune with — a delete outside a file's bounds never rewrites it);
    * each touched file is rewritten keeping rows where the predicate is
    * NOT TRUE (NULL survives — SQL DELETE semantics). Safe under
    * concurrency via the standard commit loop: a racer rewriting a
    * touched file forces recompute against the fresh snapshot. */
  def deleteWhere(
      spark: SparkSession, table: String,
      fileAdmit: FileEntry => Boolean,
      rowPredicate: org.apache.spark.sql.Column): Unit = {
    val keyCol = tableKeyCol(table).getOrElse(throw new IllegalArgumentException(
      s"deleteWhere($table): the table predates the key-column property — " +
        "run one keyed write first"))
    optimistically { b =>
      val (snapVersion, snapshot, snapSchema) = snapshotWithSchema(table, None)
      val touched = snapshot.filter(fileAdmit)
      if (touched.isEmpty) Some(false)
      else {
        val survivors = readFiles(spark, table, touched, snapSchema,
          liveDvState(table, Some(snapVersion)))
          .filter(!coalesce(rowPredicate, lit(false)))
        val adds = writeData(spark, table, survivors, keyCol)
        verdict(commit(table, b, snapVersion, adds, removes = touched.map(_.file),
          schema = snapSchema.map(_.json).getOrElse(""), keyCol = keyCol))
      }
    }
  }

  /** Scan `touched` files under the committed schema with live-row
    * filtering (key AND positional vectors applied) and the parquet
    * metadata (file name, row index) attached — the shared front half of
    * every positional-vector writer. Returns (frame, fileCol, posCol). */
  private def scanLiveWithPositions(
      spark: SparkSession, table: String, touched: Seq[FileEntry],
      snapSchema: Option[org.apache.spark.sql.types.StructType],
      dvs: DvState, keyCol: String): (DataFrame, String, String) = {
    val sp = spark
    import sp.implicits._
    val base = scanCommitted(spark, table, touched, snapSchema)
    val fresh = freshName(base.columns.toSet) _
    val fCol = fresh("_dvw_file")
    val pCol = fresh("_dvw_pos")
    var df = base
      .withColumn(fCol, col("_metadata.file_name"))
      .withColumn(pCol, col("_metadata.row_index"))
    // rows already dead at the pinned snapshot never re-mark
    val deadKeys = dvs.keys.iterator
      .filter { case (f, ks) => ks.nonEmpty && touched.exists(_.file == f) }
      .flatMap { case (f, ks) => ks.iterator.map(k => (f, k)) }.toSeq
    if (deadKeys.nonEmpty) {
      // the scan is under the CURRENT committed schema, so the key
      // property's (current, logical) name resolves directly
      val kCol = fresh("_dvw_key")
      df = df.withColumn(kCol, col(keyCol))
        .join(broadcast(deadKeys.toDF(fCol, kCol)), Seq(fCol, kCol), "left_anti")
        .drop(kCol)
    }
    if (dvs.pos.nonEmpty) {
      import org.apache.spark.sql.GraftColumnBridge.{column => asCol, expression => asExpr}
      df = df.filter(!asCol(graft.functions.PositionDead(
        asExpr(col(fCol)), asExpr(col(pCol)), table, dvs.pos)))
    }
    (df, fCol, pCol)
  }

  /** Land a (file, position) frame as roaring-bitmap sidecars, built and
    * written where the data is: positions cluster by file, each group
    * streams into one bitmap, the sidecar lands from the task — the
    * driver collects names only, O(#touched files). */
  private def positionsToSidecars(
      spark: SparkSession, table: String,
      dying: DataFrame): Map[String, Seq[String]] = {
    val sp = spark
    import sp.implicits._
    val tablePath = table
    dying
      .repartition(col("_f"))
      .sortWithinPartitions("_f")
      .as[(String, Long)]
      .mapPartitions { rows =>
        val out = scala.collection.mutable.ListBuffer.empty[(String, String)]
        var curFile: String = null
        var bm: org.roaringbitmap.longlong.Roaring64Bitmap = null
        def flush(): Unit = if (curFile != null) {
          out += curFile -> writePosDvSidecar(tablePath, bm)
          curFile = null; bm = null
        }
        rows.foreach { case (f, p) =>
          if (f != curFile) {
            flush()
            curFile = f
            bm = new org.roaringbitmap.longlong.Roaring64Bitmap()
          }
          bm.addLong(p)
        }
        flush()
        out.iterator
      }
      .collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
  }

  /** BULK merge-on-read DELETE via POSITIONAL deletion vectors — the
    * roaring-bitmap half of the DV surface (Delta's deletion-vector
    * design; Iceberg v2 position deletes): rows matching `rowPredicate`
    * in the admitted files are marked dead BY ROW POSITION in per-file
    * bitmap sidecars under `_dv/`, and the table commits ONE manifest
    * referencing them — ZERO data files rewritten, no key-count cap
    * (unlike [[deleteKeysDV]]'s inline key sets, the cost is
    * O(rows-deleted) BITS off-manifest). The GDPR-bulk shape: a
    * predicate DELETE touching millions of keys in 10 GB files commits
    * in seconds; the bytes linger until [[compact]] — the published
    * formats' trade.
    *
    * Distributed end to end: the position scan reads only admitted
    * files (manifest-stats pruning via `fileAdmit`), positions come from
    * parquet's own `_metadata.row_index`, per-file bitmaps are built AND
    * written on executors (one streaming pass per file group — the
    * driver sees only (file, sidecar-name) pairs, O(#touched files)).
    * Already-dead rows (key or positional vectors at the pinned
    * snapshot) never re-mark, which keeps the change feed's net-new
    * delete images exact. Concurrency: the commit validates the touched
    * files are still live (`requireLive`) — a racer's rewrite forces a
    * recompute, never a vector against a dead file. */
  def deleteWherePositional(
      spark: SparkSession, table: String,
      fileAdmit: FileEntry => Boolean,
      rowPredicate: org.apache.spark.sql.Column): Unit = {
    val keyCol = tableKeyCol(table).getOrElse(throw new IllegalArgumentException(
      s"deleteWherePositional($table): the table predates the key-column " +
        "property — run one keyed write first"))
    optimistically { b =>
      val (snapVersion, snapshot, snapSchema) = snapshotWithSchema(table, None)
      val touched = snapshot.filter(fileAdmit)
      val entries =
        if (touched.isEmpty) Map.empty[String, Seq[String]]
        else {
          val (df, fCol, pCol) = scanLiveWithPositions(spark, table, touched,
            snapSchema, liveDvState(table, Some(snapVersion)), keyCol)
          positionsToSidecars(spark, table, df.filter(coalesce(rowPredicate, lit(false)))
            .select(col(fCol).as("_f"), col(pCol).as("_p")))
        }
      if (entries.isEmpty) Some(false) // nothing matched: no-op
      else verdict(commit(table, b, snapVersion, adds = Seq.empty, removes = Seq.empty,
        schema = snapSchema.map(_.json).getOrElse(""), keyCol = keyCol,
        dvp = entries,
        // decisions are per-(file, position): a racer rewriting any
        // touched file invalidates them — recompute, never attach a
        // vector to a dead file
        requireLive = touched.map(_.file)))
    }
  }

  /** BULK merge-on-read upsert — the positional twin of [[upsertDV]]
    * with NO key budget: matched rows die by ROW POSITION (roaring
    * sidecars; one distributed semi-join position scan — the batch's
    * keys never collect), the batch appends, ONE manifest commit, zero
    * data files rewritten. [[upsertDV]] falls back here when its batch
    * exceeds the key budget, so bulk keyed re-syncs stay merge-on-read
    * end to end. Semantics identical to [[upsert]] (the oracle-pinned
    * delete-then-insert). `inc` is upsertDV's key-matched, checkpointed
    * batch. */
  private def upsertPositional(
      spark: SparkSession, table: String, inc: DataFrame,
      keyCol: String): Unit =
    keyBounds(inc, keyCol).foreach { case (lo, hi) =>
      optimistically { b =>
        val (snapVersion, snapshot, snapSchema) = snapshotWithSchema(table, None)
        snapSchema.foreach { sc =>
          requireCompatible(sc, inc, "upsertPositional")
          requireNoPhysicalCarriers(table, snapshot,
            inc.schema.fieldNames.toSeq.filterNot(sc.fieldNames.toSet),
            "upsertPositional")
          require(inc.columns.toSet == sc.fieldNames.toSet,
            s"upsertPositional($table): batch columns " +
              s"${inc.columns.sorted.mkString(",")} must equal table columns " +
              s"${sc.fieldNames.sorted.mkString(",")} — align first " +
              "(evolution goes through upsert/append)")
        }
        val touched = snapshot.filter(f => f.minKey <= hi && f.maxKey >= lo)
        val dvs = liveDvState(table, Some(snapVersion))
        val entries =
          if (touched.isEmpty) Map.empty[String, Seq[String]]
          else {
            val (df, fCol, pCol) = scanLiveWithPositions(
              spark, table, touched, snapSchema, dvs, keyCol)
            // matched = key appears in the batch: a DISTRIBUTED left-semi
            // join (the whole point of the bulk path — no driver key set)
            val dying = df
              .join(inc.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
              .select(col(fCol).as("_f"), col(pCol).as("_p"))
            positionsToSidecars(spark, table, dying)
          }
        val adds = writeData(spark, table, inc, keyCol)
        verdict(commit(table, b, snapVersion, adds, removes = Seq.empty,
          schema = snapSchema.map(_.json).getOrElse(inc.schema.json),
          keyRange = Some((lo, hi)), keyCol = keyCol, dvp = entries,
          // positions are per-(file, row-index): a racer rewriting any
          // touched file invalidates them — recompute
          requireLive = touched.map(_.file)))
      }
    }

  /** `schema` renamed logical → physical per `mapping` — what the DSv2
    * task writers receive on a renamed table, so their parts land with
    * the PHYSICAL names every other data file carries (readers resolve
    * parquet columns by physical name; a logical-named part would serve
    * typed NULLs). Identity on never-renamed tables. */
  private[graft] def physicalized(
      schema: org.apache.spark.sql.types.StructType,
      mapping: Map[String, String]): org.apache.spark.sql.types.StructType =
    if (mapping.isEmpty) schema
    else {
      val phys = schema.fields.map(f => mapping.getOrElse(f.name, f.name))
      // a NEW (unmapped) field whose name equals a renamed column's
      // physical name would produce a duplicate-named parquet schema —
      // the same reserved-name hazard requireNoPhysicalCarriers guards
      // on the commit side, caught here BEFORE any task writes a part
      phys.diff(phys.distinct).headOption.foreach { dup =>
        throw new IllegalArgumentException(
          s"physicalized write schema carries '$dup' twice — a new column " +
            "collides with the physical name of a renamed one; that name " +
            "is reserved for the table's lifetime (compact() after a DROP " +
            "frees names, renames never do)")
      }
      org.apache.spark.sql.types.StructType(
        schema.fields.zip(phys).map { case (f, n) => f.copy(name = n) })
    }

  /** The rename-mapping race guard for DSv2 task-staged writes: tasks
    * wrote parts under the mapping pinned at statement start
    * (`writtenMapping`); a rename landing mid-statement means those
    * parts carry names the new mapping no longer describes — refuse
    * loudly, never register files that disagree with the table. */
  private def requireMappingStable(
      table: String, writtenMapping: Map[String, String], op: String)
      : Map[String, String] = {
    val now = mappingOf(snapshotWithSchema(table, None)._3)
    if (now != writtenMapping) throw new java.util.ConcurrentModificationException(
      s"$op on $table: a column rename landed while the statement ran " +
        "(task parts were written under the old mapping) — re-run the " +
        "statement against the new snapshot")
    now
  }

  /** Replace an explicit file set with new data in one commit — the
    * group-replacement half of Spark's row-level operations
    * (UPDATE/MERGE via [[graft.sources.v2.LogTableTable]]): the
    * operation's search scan planned `removeFiles` at `snapVersion`,
    * Spark computed the groups' full replacement rows, and this commits
    * the swap. Unlike the upsert/delete paths a [[Stale]] commit is NOT
    * recomputed — the replacement rows were computed by Spark's plan,
    * not ours, so a conflicting racer (one that rewrote a scanned file)
    * must FAIL the operation rather than silently recompute half of it;
    * independent commits still re-claim above the new head. */
  private[graft] def replaceStaged(
      spark: SparkSession, table: String, snapVersion: Long,
      removeFiles: Seq[String], staging: Path,
      schema: org.apache.spark.sql.types.StructType, keyCol: String,
      onlyFiles: Option[Set[String]] = None,
      writtenMapping: Map[String, String] = Map.empty): Unit =
    try {
      // RENAMED tables: the task writers received the PHYSICALIZED
      // schema (see LogGroupBatchWrite), so the parts already carry
      // physical names — register them under physical names/key and
      // commit the snapshot's mapped schema. Guarded against a rename
      // landing mid-statement.
      val mapping = requireMappingStable(table, writtenMapping,
        "graft-log row-level write")
      val snapSchema = snapshotWithSchema(table, None)._3
      val adds = registerStaged(spark, table, staging,
        physicalized(schema, mapping),
        mapping.getOrElse(keyCol, keyCol), onlyFiles)
      landedOrFail(
        commit(table, new Budget, snapVersion, adds, removes = removeFiles,
          schema = restampMapping(snapSchema, schema).json, keyCol = keyCol),
        new java.util.ConcurrentModificationException(
          s"row-level operation on $table: a concurrent writer rewrote a " +
            "scanned file — re-run the statement against the new snapshot"))
    } finally sweepStaging(staging)

  /** The MERGE-ON-READ twin of [[replaceStaged]], behind the SQL delta
    * write ([[graft.sources.v2.LogDeltaBatchWrite]]): instead of
    * swapping scanned files for rewritten ones, it attaches the
    * statement's dead keys as per-file deletion vectors and registers
    * only the delta's appended parts (update images + inserts) — one
    * manifest commit, ZERO data files rewritten. `deadByFile` carries
    * keys the tasks placed precisely via the scan's `_file` metadata;
    * `looseKeys` (a data column shadowed `_file`) place by key range
    * against the pinned snapshot — [[deleteKeysDV]]'s wider-but-correct
    * semantics. Budgeted like every vector commit ([[DvMaxKeys]] +
    * the per-file accumulation cap); read-set validated like
    * [[mergeDV]]: the commit requires every vectored file still live,
    * and a racer's conflicting vector or overlapping append forces a
    * loud re-run instead of a silent lost update. */
  private[graft] def commitDeltaStaged(
      spark: SparkSession, table: String, snapVersion: Long,
      snapshot: Seq[FileEntry], staging: Path, onlyFiles: Set[String],
      schema: org.apache.spark.sql.types.StructType, keyCol: String,
      deadByFile: Map[String, Seq[Long]], looseKeys: Seq[Long],
      writtenMapping: Map[String, String] = Map.empty): Unit =
    try {
      // RENAMED tables serve: tasks wrote parts under the physicalized
      // schema; register physical, commit the mapped logical schema,
      // refuse a rename that landed mid-statement.
      val mapping = requireMappingStable(table, writtenMapping,
        "graft-log merge-on-read write")
      val loosePlaced = sliceKeys(snapshot, looseKeys.distinct)
      val dvAdds = (deadByFile.keySet ++ loosePlaced.keySet).iterator.map { f =>
        f -> (deadByFile.getOrElse(f, Seq.empty) ++
          loosePlaced.getOrElse(f, Seq.empty)).distinct
      }.toMap
      val distinctDead = dvAdds.valuesIterator.flatten.toSet
      if (distinctDead.size > DvMaxKeys) throw new IllegalArgumentException(
        s"graft-log merge-on-read on $table: statement matched " +
          s"${distinctDead.size} keys > $DvMaxKeys — deletion vectors are " +
          "the small-delta path; SET spark.graft.rowLevel.mode=" +
          "copy-on-write for bulk changes (or raise graft.dv.maxKeys)")
      // vectors may only attach to files of the PINNED snapshot (the
      // scan served them); anything else means the statement read a
      // version this commit does not describe
      val liveAt = snapshot.iterator.map(_.file).toSet
      dvAdds.keys.find(!liveAt(_)).foreach { f =>
        throw new IllegalStateException(
          s"graft-log merge-on-read on $table: dead keys target $f, which " +
            s"is not in the statement's pinned snapshot v$snapVersion")
      }
      requireDvBudget(table, snapVersion, dvAdds, "merge-on-read statement")
      val adds = registerStaged(spark, table, staging,
        physicalized(schema, mapping),
        mapping.getOrElse(keyCol, keyCol), Some(onlyFiles))
      if (adds.isEmpty && dvAdds.isEmpty) return
      // racer detection window: the span of every key this statement
      // kills or appends — an overlapping concurrent add invalidates
      // the matched-row decisions, same contract as mergeDV
      val touched = distinctDead.iterator ++
        adds.iterator.flatMap(a => Iterator(a.minKey, a.maxKey))
      val keyRange =
        if (distinctDead.isEmpty && adds.isEmpty) None
        else Some(touched.foldLeft((Long.MaxValue, Long.MinValue)) {
          case ((lo, hi), k) => (math.min(lo, k), math.max(hi, k))
        })
      landedOrFail(
        commit(table, new Budget, snapVersion, adds, removes = Seq.empty,
          schema = restampMapping(snapshotWithSchema(table, None)._3,
            org.apache.spark.sql.types.StructType(
              schema.fields.map(_.copy(nullable = true)))).json,
          keyRange = keyRange, keyCol = keyCol, dvs = dvAdds,
          requireLive = dvAdds.keys.toSeq),
        new java.util.ConcurrentModificationException(
          s"merge-on-read statement on $table: a concurrent writer changed " +
            "a scanned file or landed rows in the statement's key range — " +
            "re-run the statement against the new snapshot"))
    } finally sweepStaging(staging)

  /** A fresh row-level staging dir under the table's data root (same
    * filesystem as the final location — the per-file move in
    * [[registerStaged]] stays atomic). */
  private[graft] def newStagingDir(table: String): Path =
    Files.createTempDirectory(dataDir(table), ".staging-rlo-")

  /** Bin-pack small live files into ~`targetRows`-sized files, clustered
    * by key (repartitionByRange on the key column, so compacted files
    * carry tight non-overlapping key stats and [[upsert]]/scan
    * pruning stays sharp). A SEMANTIC NO-OP — same rows, history intact,
    * time travel to pre-compaction versions still valid — that bounds
    * the file count after many small appends/upserts (the maintenance
    * op every log-structured table needs: unmerged, a year of nightly
    * deltas is 365 tiny files and every scan pays per-file open cost).
    * Only files under `targetRows` participate; already-right-sized
    * files are left untouched. Concurrency as [[upsert]] — a racing
    * writer that rewrote a compaction input forces a recompute against
    * the fresh snapshot.
    *
    * `zorderBy = Some((d1, d2))` clusters the compacted output by the
    * Morton key of the two dimensions instead of by `keyCol` range
    * (lakehouse OPTIMIZE ZORDER): each output file owns a contiguous
    * z-range, so its manifest stats are tight in BOTH dimensions at
    * once and the `graft-log` scan skips files on either — at the cost of
    * looser primary-key ranges (upsert pruning touches more files), the
    * same trade the lakehouse command makes. */
  def compact(spark: SparkSession, table: String, keyCol: String,
      targetRows: Long, zorderBy: Option[(String, String)] = None): Unit = {
    require(targetRows >= 1, "targetRows must be >= 1")
    requireKeyMatch(table, keyCol)
    optimistically { b =>
      val (snapVersion, snapshot, snapSchema) = snapshotWithSchema(table, None)
      val dvs = liveDvState(table, Some(snapVersion))
      // DV'd files (key AND positional vectors) join the compaction
      // REGARDLESS of size: compact() is the vacuum path for deletion
      // vectors — the rewrite reads the live rows and the removal drops
      // the vector, restoring vector-free scans and exact manifest row
      // counts
      def vectored(f: FileEntry): Boolean =
        dvs.keys.contains(f.file) || dvs.pos.contains(f.file)
      val small = snapshot.filter(f => f.rows < targetRows || vectored(f))
      val dvd = small.count(vectored)
      val total = small.map(_.rows).sum
      val nOut = math.max(1L, (total + targetRows - 1) / targetRows).toInt
      // nothing to merge — and idempotence: merging n files into >= n
      // achieves nothing and would churn forever (compact → two
      // half-full files → compact …) — unless vectors need purging,
      // which a rewrite always achieves
      if (dvd == 0 && small.size <= nOut) Some(false)
      else {
        val input = readFiles(spark, table, small, snapSchema, dvs)
        val clustered = zorderBy match {
          case Some((d1, d2)) =>
            graft.operators.ZOrder.layoutBy(input, col(d1), col(d2), nOut)
          case None => input.repartitionByRange(nOut, col(keyCol))
        }
        val adds = writeData(spark, table, clustered, keyCol)
        verdict(commit(table, b, snapVersion, adds, removes = small.map(_.file),
          schema = snapSchema.map(_.json).getOrElse(""),
          keyCol = keyCol))
      }
    }
  }

  /** Change feed for incremental downstream consumers: the row-level
    * delta between committed versions `fromV` and `toV`, as the data
    * columns plus `_change_type` ('insert' | 'update' | 'delete';
    * updates and inserts carry the new row, deletes the old one).
    *
    * Fast path: when every commit in (fromV, toV] is a pure APPEND (no
    * removes), the added files ARE the change set — they are read
    * directly, zero joins, cost proportional to the delta (the
    * append-only state tables [[graft.streaming.DocStream]] commits
    * always take this path). Otherwise (upserts/deletes in range) the
    * delta is recovered by a key-wise snapshot diff — a full-outer join
    * of the two snapshots comparing row content. That costs two
    * snapshot scans; a deployment that needs cheap CDC over heavy
    * upserts writes explicit change files at commit time instead (the
    * Delta CDF trade), which this format's manifest would carry as a
    * third file list. */
  def changes(
      spark: SparkSession, table: String, keyCol: String,
      fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changes: fromV $fromV > toV $toV")
    // a feed from below a truncation checkpoint cannot be answered —
    // the silent alternative re-emits the whole table as inserts and a
    // downstream replayer double-applies rows that existed all along
    requireNotTruncated(table, math.max(fromV, 1L))
    val ms = manifests(table).filter(m => m.version > fromV && m.version <= toV)
    if (ms.isEmpty) return spark.emptyDataFrame
    if (ms.forall(m =>
        m.removes.isEmpty && !m.checkpoint && m.dvs.isEmpty && m.dvp.isEmpty)) {
      // (a DV commit — key or positional — deletes/updates rows without
      // removing files: the added files alone are NOT the change set; it
      // takes the diff path)
      // (a checkpoint in range is a consolidation, not new data — its
      // adds re-list the whole table and must go through the diff path)
      val added = ms.flatMap(_.adds)
      // read under toV's committed schema: appends that straddle a
      // column addition surface uniformly
      return readFiles(spark, table, added, snapshotWithSchema(table, Some(toV))._3)
        .withColumn("_change_type", lit("insert"))
    }
    // Second fast path: appends + merge-on-read KEY deletes. The dv'd
    // keys are INLINE in the manifests (that is the small-delta DV
    // shape), so the delete half of the feed is key-addressable without
    // any snapshot diff — cost stays proportional to the delta.
    changesDeltaPath(spark, table, keyCol, fromV, ms) match {
      case Some(df) => return df
      case None =>
    }
    // A RENAME inside the diff window: PHYSICAL identity is stable
    // under column mapping, so the feed serves EVERY version under
    // toV's logical names (Delta's CDF-with-column-mapping semantics) —
    // the before snapshot projects old logical names to new by physical
    // identity, and the key-wise diff compares physically-identical
    // columns. A rename alone therefore never reads as an update.
    val scFrom = snapshotWithSchema(table, Some(fromV))._3
    val scTo = snapshotWithSchema(table, Some(toV))._3
    val renamed: Map[String, String] = (for {
      f <- scFrom.toSeq; t <- scTo.toSeq
      oldByPhys = f.fields.map(x => physicalName(x) -> x.name).toMap
      x <- t.fields
      old <- oldByPhys.get(physicalName(x))
      if old != x.name
    } yield old -> x.name).toMap
    // ONE simultaneous projection, not chained withColumnRenamed: a
    // cyclic rename inside the window (a→tmp, b→a, tmp→b folds to
    // {a→b, b→a}) would have an intermediate rename collide with a
    // still-present source column; mapping every column at once cannot
    val beforeRaw = readVersion(spark, table, fromV)
    val before =
      if (renamed.isEmpty) beforeRaw
      else beforeRaw.select(beforeRaw.columns.toSeq.map(c =>
        col(c).as(renamed.getOrElse(c, c))): _*)
    val after = readVersion(spark, table, toV)
    if (before.columns.isEmpty) // fromV predates the table: all inserts
      return after.withColumn("_change_type", lit("insert"))
    // `keyCol` names toV's key; a key rename inside the window is
    // covered by the same projection (the caller's name resolves on
    // both sides after it)
    val payload = after.columns.filterNot(_ == keyCol).toSeq
    // fromV may predate a column addition: align the old snapshot with
    // typed NULLs so the diff compares the evolved shape (otherwise the
    // select below fails to resolve the added column)
    val beforeAligned = payload.foldLeft(before)((d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(after.schema(c).dataType)))
    val b = beforeAligned.select(col(keyCol), struct(payload.map(col): _*).as("_b"))
    val a = after.select(col(keyCol), struct(payload.map(col): _*).as("_a"))
    val diffed = b.join(a, Seq(keyCol), "full_outer")
      .withColumn("_change_type",
        when(col("_b").isNull, "insert")
          .when(col("_a").isNull, "delete")
          // null-safe struct compare: a payload field that is NULL on
          // one side must read as a difference, not propagate NULL into
          // the condition and silently drop the row from the feed
          .when(!(col("_a") <=> col("_b")), "update"))
      .filter(col("_change_type").isNotNull)
    val img = when(col("_change_type") === "delete", col("_b")).otherwise(col("_a"))
    diffed.select(
      col(keyCol) +: payload.map(c => img.getField(c).as(c)) :+ col("_change_type"): _*)
  }

  /** DELTA-PROPORTIONAL serve of [[changes]] for windows made of pure
    * appends plus merge-on-read KEY deletes (the incremental-ingestion
    * shape: new batches land as appended files, retired rows die as
    * inline manifest key vectors). Inserts are the added files read
    * directly; delete images are recovered by a STATS-PRUNED read of
    * only the fromV files whose key range can hold a deleted key, with
    * fromV's live vectors applied (a key already dead at fromV must not
    * re-emit). Total cost: O(delta files + files containing deleted
    * keys) — never a snapshot scan, which is what lets a downstream
    * incremental maintainer (x53's gram tables) ride the feed at 100 TB.
    *
    * Returns None — falling back to the exact key-wise diff — whenever
    * the window cannot be served this way provably-correctly:
    * rewrites/checkpoints in range, positional sidecars (their dead sets
    * are per-position, not key-addressable from the manifest), a schema
    * change, a vector targeting a file added INSIDE the window (net
    * in-window update), or an added key colliding with a deleted key
    * (net update/reinsert — checked by key RANGE first, free on the
    * driver, then by one delta-proportional probe of the overlapping
    * added files only). */
  private def changesDeltaPath(
      spark: SparkSession, table: String, keyCol: String,
      fromV: Long, ms: Seq[Manifest]): Option[DataFrame] = {
    if (!tableKeyCol(table).contains(keyCol)) return None
    if (ms.exists(m => m.removes.nonEmpty || m.checkpoint || m.dvp.nonEmpty))
      return None
    val delKeys = ms.flatMap(_.dvs.valuesIterator.flatten).distinct.sorted
    if (delKeys.isEmpty) return None // pure appends: the caller's first path
    val (_, fromSnap, scFrom) = snapshotWithSchema(table, Some(fromV))
    val fromSchemaJson = scFrom.map(_.json).getOrElse("")
    if (ms.exists(m => m.schema.nonEmpty && m.schema != fromSchemaJson))
      return None
    val added = ms.flatMap(_.adds)
    val addedNames = added.iterator.map(_.file).toSet
    if (ms.exists(_.dvs.keysIterator.exists(addedNames.contains))) return None
    val dk = delKeys.toArray
    def holdsDeletedKey(f: FileEntry): Boolean = {
      var i = java.util.Arrays.binarySearch(dk, f.minKey)
      if (i < 0) i = -i - 1
      i < dk.length && dk(i) <= f.maxKey
    }
    // keyed-table invariant: a live key exists in at most one row, and
    // the DV verbs mark a deleted key in EVERY file whose stats range
    // could hold it — so "key ∈ delKeys" is exactly "row dead by toV"
    val addedOverlap = added.filter(holdsDeletedKey)
    if (addedOverlap.nonEmpty) {
      // ranges collide — decide exactly, reading ONLY those added files
      val reinserted = readFiles(spark, table, addedOverlap, scFrom)
        .select(col(keyCol).cast("long").as("_k"))
        .filter(col("_k").isInCollection(delKeys))
        .limit(1).count() > 0
      if (reinserted) return None
    }
    val inserts = readFiles(spark, table, added, scFrom)
      .withColumn("_change_type", lit("insert"))
    val touched = fromSnap.filter(holdsDeletedKey)
    val deletes = readFiles(spark, table, touched, scFrom,
        liveDvState(table, Some(fromV)))
      .filter(col(keyCol).cast("long").isInCollection(delKeys))
      .withColumn("_change_type", lit("delete"))
    cdcDeltaServes.incrementAndGet()
    Some(inserts.unionByName(deletes))
  }

  /** The snapshot's schema: the committed one, or — for a PRE-EVOLUTION
    * log whose manifests carry none — the union of every live file's
    * footer schema (mergeSchema: default inference samples ONE footer,
    * so heterogeneous legacy files could yield a partial schema and
    * permanently hide a legacy column). None for an empty legacy log. */
  private def snapshotSchema(
      spark: SparkSession, table: String, live: Seq[FileEntry],
      committed: Option[org.apache.spark.sql.types.StructType])
      : Option[org.apache.spark.sql.types.StructType] =
    committed.orElse {
      if (live.isEmpty) None
      else Some(spark.read.option("mergeSchema", "true").parquet(
        live.map(f => dataDir(table).resolve(f.file).toString): _*).schema)
    }

  /** A batch's [min, max] key as longs — one aggregate job; None for an
    * empty batch (the row-level verbs' no-op, P11). */
  private def keyBounds(df: DataFrame, keyCol: String): Option[(Long, Long)] = {
    val r = df.agg(min(col(keyCol).cast("long")), max(col(keyCol).cast("long"))).head()
    if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
  }

  /** A batch's distinct keys, bounded at [[DvMaxKeys]] + 1 so an
    * oversized batch never materializes on the driver (more than
    * DvMaxKeys back means "bulk"). Cast-to-long before collect: Int/Short
    * key columns (which the SQL delta writer's keyGet tolerates) must
    * work too. NULLS FIRST makes the sample DETERMINISTIC about NULLs: a
    * NULL key anywhere in the batch is guaranteed inside the sample
    * (sort+limit plans as TakeOrderedAndProject — one job, no full
    * collect), so the NOT NULL contract fails with `nullKeys` — the
    * registration path's remediation, not a driver NPE — on the FULL
    * frame even when the batch overflows to a bulk path. */
  private def keySample(df: DataFrame, keyCol: String)(nullKeys: => String): Seq[Long] = {
    val rows = df.select(col(keyCol).cast("long").as("_k")).distinct()
      .orderBy(col("_k").asc_nulls_first).limit(DvMaxKeys + 1).collect()
    require(!rows.exists(_.isNullAt(0)), nullKeys)
    rows.toIndexedSeq.map(_.getLong(0))
  }

  /** Each snapshot file's slice of the distinct `keys` — the keys its
    * [minKey, maxKey] could hold, for the file's deletion vector.
    * Marking a key the file never contained is harmless (the read-side
    * anti-join just misses), so stats-range assignment is exact. */
  private def sliceKeys(snapshot: Seq[FileEntry], keys: Seq[Long]): Map[String, Seq[Long]] =
    if (keys.isEmpty) Map.empty
    else {
      val (lo, hi) = (keys.min, keys.max)
      snapshot.iterator
        .filter(f => f.minKey <= hi && f.maxKey >= lo)
        .map(f => f.file -> keys.filter(k => k >= f.minKey && k <= f.maxKey))
        .filter(_._2.nonEmpty)
        .toMap
    }

  /** Schema-correct empty frame: a verb that touches no file must still
    * carry the table's columns into its committed schema, not narrow it
    * to the batch's. */
  private def emptyLike(
      spark: SparkSession, snapSchema: Option[org.apache.spark.sql.types.StructType],
      batch: DataFrame): DataFrame =
    snapSchema.map(sc => spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc))
      .getOrElse(batch.limit(0))

  /** Evolution admits NEW columns only — a batch column that shares a
    * table column's name but not its type would be committed as the new
    * schema and poison every later read of the old files (the parquet
    * reader can't serve a string page as a long). Fail at the write. */
  private def requireCompatible(
      sc: org.apache.spark.sql.types.StructType, df: DataFrame, op: String): Unit =
    df.schema.fields.foreach { f =>
      sc.fields.find(_.name == f.name).foreach { ex =>
        require(ex.dataType.catalogString == f.dataType.catalogString,
          s"LogTable $op: column ${f.name} arrives as ${f.dataType.catalogString} " +
            s"but the table holds ${ex.dataType.catalogString} — type changes are " +
            "not evolution; cast the batch or migrate explicitly")
      }
    }

  /** Re-add-after-DROP guard, shared by EVERY path that can evolve the
    * schema with a new name (addColumns, append, upsert, merge): a live
    * file that still PHYSICALLY carries the name would resurface its old
    * values instead of the NULLs an added column promises. Presence is
    * decided from the manifests' own per-file stats maps — zero footer
    * reads; engine-written files record colsN for every column. compact()
    * rewrites under the committed schema, purging dropped bytes and
    * freeing the name. Without this on the WRITE paths, a batch carrying
    * a dropped column would silently sneak past the ALTER-side check. */
  private def requireNoPhysicalCarriers(
      table: String, liveNow: Seq[FileEntry], newNames: Seq[String],
      op: String): Unit =
    newNames.foreach { n =>
      val carriers = liveNow.count(e =>
        e.cols.contains(n) || e.colsD.contains(n) ||
          e.colsS.contains(n) || e.colsN.contains(n))
      if (carriers > 0) throw new IllegalArgumentException(
        s"LogTable $op on $table: column '$n' was dropped but $carriers " +
          "live file(s) still physically carry it — evolving it back would " +
          "resurface the old values instead of NULLs. compact() the table " +
          "first (rewrites purge dropped columns) or rename the column")
      // Conservative-carrier rule: a live file with NO stats entries at
      // all (written before stats existed, or by an external writer)
      // proves nothing about which columns it physically carries — the
      // maps-only check above would wave it through and the re-added
      // column could resurface old values, exactly the hazard this guard
      // exists for. Unknown must read as "maybe carries": refuse with the
      // same compact() remedy (a rewrite stamps full stats AND purges
      // dropped bytes, clearing both problems at once).
      val statless = liveNow.count(e =>
        e.cols.isEmpty && e.colsD.isEmpty && e.colsS.isEmpty && e.colsN.isEmpty)
      if (statless > 0) throw new IllegalArgumentException(
        s"LogTable $op on $table: cannot prove column '$n' is physically " +
          s"absent — $statless live file(s) carry no per-column stats, so " +
          "manifest-only presence checking is blind to them. compact() the " +
          "table first (rewrites stamp stats and purge dropped columns)")
    }

  private def statLong(v: AnyRef): Long = v match {
    case l: java.lang.Long => l
    case i: java.lang.Integer => i.toLong
    case s: java.lang.Short => s.toLong
    case other => throw new IllegalStateException(
      s"integral footer statistic expected, got ${other.getClass}")
  }

  // ---- string bound policy (Iceberg-style truncate + successor) ----
  //
  // Manifest string bounds must (a) be cheap — truncated, not full
  // values; (b) survive the flat-regex manifest parse — so only
  // printable ASCII with JSON/regex-structural characters excluded; and
  // (c) order consistently with BOTH parquet's unsigned-byte stats order
  // and Spark's UTF8String comparison — guaranteed for ASCII, so a file
  // whose footer bounds contain any non-ASCII char carries no string
  // stats at all (admit-only: no stats just means no skipping).

  private val StrBoundMax = 24
  private def strBoundSafe(c: Char): Boolean =
    c >= 0x20 && c <= 0x7e && !"{}[]\"\\".contains(c)

  /** Longest renderable prefix — always a valid LOWER bound (a prefix
    * compares <= the full value; possibly empty, which admits all). */
  private def strLowerBound(s: String): String =
    s.takeWhile(strBoundSafe).take(StrBoundMax)

  /** The value itself when short and fully renderable, else the smallest
    * renderable SUCCESSOR of the safe prefix (bump the rightmost char
    * that has a safe successor, drop the tail — every value with that
    * prefix compares strictly below it), else None → stats dropped. */
  private def strUpperBound(s: String): Option[String] = {
    val p = s.takeWhile(strBoundSafe).take(StrBoundMax)
    if (p == s) Some(s)
    else {
      val i = p.lastIndexWhere(c =>
        ((c + 1) to 0x7e).exists(x => strBoundSafe(x.toChar)))
      if (i < 0) None
      else {
        val next = ((p(i) + 1) to 0x7e).find(x => strBoundSafe(x.toChar)).get
        Some(p.take(i) + next.toChar)
      }
    }
  }

  // Refcounted scope for the TIMESTAMP_MICROS session-conf override:
  // concurrent writers on one SparkSession (the table's target
  // workload) must not interleave a naive save/set/restore — writer B
  // could snapshot A's override as "previous", or A's restore could
  // flip B's still-running write back to INT96 (no footer stats, no
  // timestamp skipping). All writers want the SAME value, so the first
  // entrant per session saves+sets and the last one restores; the
  // parquet write jobs themselves still run concurrently.
  private val tsConfLock = new Object
  private val tsConfState =
    scala.collection.mutable.Map.empty[SparkSession, (Int, Option[String])]
  private def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    val tsKey = "spark.sql.parquet.outputTimestampType"
    tsConfLock.synchronized {
      val (depth, prev) = tsConfState.getOrElse(spark, {
        val p = spark.conf.getOption(tsKey)
        spark.conf.set(tsKey, "TIMESTAMP_MICROS")
        (0, p)
      })
      tsConfState(spark) = (depth + 1, prev)
    }
    try body
    finally tsConfLock.synchronized {
      val (depth, prev) = tsConfState(spark)
      if (depth == 1) {
        tsConfState.remove(spark)
        prev match {
          case Some(v) => spark.conf.set(tsKey, v)
          case None => spark.conf.unset(tsKey)
        }
      } else tsConfState(spark) = (depth - 1, prev)
    }
  }

  /** Write `df` as fresh immutable data files; returns their entries
    * with key stats PLUS per-column [min, max] for every integral column
    * (the generalized data-skipping stats the `graft-log` scan prunes on).
    * All stats come from the staged files' parquet FOOTERS, read on the
    * driver at commit time — ZERO extra Spark jobs and zero data pages
    * (the earlier spelling ran a second full read of everything just
    * written; at 100 TB that doubles every commit's I/O). Same stats
    * source as [[graft.operators.Layout]]'s skipping evaluator. */
  private def writeData(
      spark: SparkSession, table: String, df: DataFrame, keyCol: String): Seq[FileEntry] = {
    // column mapping: the caller's frame uses LOGICAL names; the file
    // (and therefore its footer stats, which registerStaged keys the
    // manifest maps on) must carry PHYSICAL names so every file in the
    // table agrees regardless of when it was written. Identity (and
    // zero-cost) on never-renamed tables.
    val mapping = mappingOf(snapshotWithSchema(table, None)._3)
    val (physDf, physKey) =
      if (mapping.isEmpty) (df, keyCol)
      else (df.select(df.columns.toIndexedSeq.map(c =>
        col(c).as(mapping.getOrElse(c, c))): _*),
        mapping.getOrElse(keyCol, keyCol))
    val staging = Files.createTempDirectory(dataDir(table), ".staging-")
    try {
      // Timestamps land as INT64 micros, not Spark's default INT96:
      // parquet writes NO footer statistics for INT96, so the default
      // would silently disable all timestamp skipping (and the manifest's
      // micros encoding is exactly the INT64 physical value). The
      // override is scoped+refcounted — never leaked to the caller, and
      // safe under concurrent writers (see withMicrosTimestamps).
      withMicrosTimestamps(spark) {
        physDf.write.mode("overwrite").parquet(staging.toString)
      }
      registerStaged(spark, table, staging, physDf.schema, physKey)
    } finally sweepStaging(staging)
  }

  /** Delete a staging dir and whatever it still holds (_SUCCESS, crc
    * files, any unmoved or unregistered parts). */
  private def sweepStaging(staging: Path): Unit =
    if (Files.isDirectory(staging)) {
      import scala.jdk.CollectionConverters._
      val it = Files.list(staging)
      try it.iterator().asScala.foreach(Files.deleteIfExists) finally it.close()
      Files.deleteIfExists(staging)
    }

  /** Register staged parquet part files as table data: one footer pass
    * computes per-file row counts + typed column stats (the manifest
    * encodings), each non-empty part atomically moves into `data/` under
    * a fresh UUID name, and the [[FileEntry]] list comes back for the
    * caller's commit. Shared by [[writeData]] (Spark-written staging)
    * and the DSv2 row-level BatchWrite (task-written staging) so BOTH
    * write paths produce identical stats. The caller owns staging-dir
    * cleanup.
    *
    * `onlyFiles` (file NAMES within staging) restricts registration to
    * the parts the caller positively committed: the DSv2 row-level write
    * passes its tasks' WriterCommitMessages here, so a leftover part
    * from a failed/speculative task attempt whose abort() never ran
    * (executor crash) is never registered — it stays in staging and the
    * caller's cleanup deletes it. None = register everything (the
    * Spark-written staging path, where the parquet committer already
    * guarantees only winners remain). */
  private[graft] def registerStaged(
      spark: SparkSession, table: String, staging: Path,
      schema: org.apache.spark.sql.types.StructType,
      keyCol: String, onlyFiles: Option[Set[String]] = None): Seq[FileEntry] = {
      // stats keys must survive the flat-regex manifest parse: a column
      // name carrying JSON structure characters OR shadowing a manifest
      // field name ("removes" as a cols key would terminate the adds
      // block early) is EXCLUDED from the cols map (always safe — no
      // stats just means no skipping on that column). The KEY column is
      // never affected: its stats land in the anonymous minKey/maxKey
      // fields whatever its name.
      // NOTE: "ts"/"txns"/"keyCol"/"colsN" as COLUMN names are safe and
      // deliberately NOT reserved — the top-level ts parse is anchored
      // at the manifest head, the txns parse requires an object value
      // no stats shape produces, and keyCol's requires a string value —
      // reserving them would silently drop stats on legitimate column
      // names (a real "ts" event column lost its pruning when tried)
      val reserved = Set("file", "minKey", "maxKey", "rows", "cols",
        "colsD", "colsS", "version", "adds", "removes", "schema", "checkpoint")
      val statSafe = (n: String) => n.nonEmpty && !reserved(n) &&
        n.forall(c => !"\"\\{}[]:,".contains(c))
      import org.apache.spark.sql.types._
      // long-encodable columns: integrals as themselves, TIMESTAMP as
      // epoch micros (INT64 physical value under TIMESTAMP_MICROS), DATE
      // as epoch days (INT32 physical value) — all three arrive from the
      // footer already in the manifest encoding
      // TimestampNTZ rides the same micros encoding: parquet stores it
      // as INT64 micros unconditionally (only the zoned type has the
      // INT96 legacy), and Spark 4 infers NTZ for pandas-written fixtures
      val longEnc = schema.fields.collect {
        case f if f.dataType == LongType || f.dataType == IntegerType ||
          f.dataType == ShortType || f.dataType == DateType ||
          f.dataType == TimestampType || f.dataType == TimestampNTZType => f.name
      }.toSet
      val dblEnc = schema.fields.collect {
        case f if f.dataType == DoubleType || f.dataType == FloatType => f.name
      }.toSet
      val strEnc = schema.fields.collect {
        case f if f.dataType == StringType => f.name
      }.toSet
      val conf = spark.sessionState.newHadoopConf()
      import scala.jdk.CollectionConverters._
      val partsStream = Files.list(staging)
      val parts =
        try partsStream.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .filter(p => onlyFiles.forall(_(p.getFileName.toString)))
          .toSeq.sortBy(_.getFileName.toString)
        finally partsStream.close()
      parts.flatMap { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p.toUri), conf)
        // Footers.open: the option-less open() re-parsed the Hadoop XML
        // defaults per staged file (~10% of a commit verb's wall)
        val reader = graft.util.Footers.open(in)
        val (rows, stats, statsD, statsS, statsN) =
          try {
            var rows = 0L
            val lo = scala.collection.mutable.Map.empty[String, Long]
            val hi = scala.collection.mutable.Map.empty[String, Long]
            val loD = scala.collection.mutable.Map.empty[String, Double]
            val hiD = scala.collection.mutable.Map.empty[String, Double]
            val loS = scala.collection.mutable.Map.empty[String, String]
            val hiS = scala.collection.mutable.Map.empty[String, String]
            // columns whose footer bounds fail a safety policy (NaN/Inf
            // doubles, non-ASCII strings) drop out of the file's stats
            // entirely — a partial bound would prune wrongly
            val unsafe = scala.collection.mutable.Set.empty[String]
            // NULL counts (any column type): valid only when EVERY chunk
            // of the column reports one — a single unknown poisons the
            // file's count (a partial sum would wrongly prune IS NULL)
            val nulls = scala.collection.mutable.Map.empty[String, Long]
            val nullsUnknown = scala.collection.mutable.Set.empty[String]
            reader.getFooter.getBlocks.forEach { block =>
              rows += block.getRowCount
              block.getColumns.forEach { chunk =>
                // exact TOP-LEVEL path match (single segment), so a
                // dotted column name can never alias a nested field
                val segs = chunk.getPath.iterator().asScala.toSeq
                val st = chunk.getStatistics
                if (segs.length == 1) {
                  val name = segs.head
                  if (st != null && st.isNumNullsSet && st.getNumNulls >= 0)
                    nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
                  else nullsUnknown += name
                }
                // a chunk with SOME nulls still carries min/max over
                // its non-null values — matching SQL min/max; an
                // all-null (or stat-less) chunk contributes nothing
                if (segs.length == 1 && st != null && st.hasNonNullValue) {
                  val name = segs.head
                  if (longEnc(name)) {
                    val (mn, mx) = (statLong(st.genericGetMin.asInstanceOf[AnyRef]),
                      statLong(st.genericGetMax.asInstanceOf[AnyRef]))
                    lo(name) = lo.get(name).fold(mn)(math.min(_, mn))
                    hi(name) = hi.get(name).fold(mx)(math.max(_, mx))
                  } else if (dblEnc(name)) {
                    def d(v: AnyRef): Double = v match {
                      case x: java.lang.Double => x
                      case x: java.lang.Float => x.toDouble
                      case other => throw new IllegalStateException(
                        s"floating footer statistic expected, got ${other.getClass}")
                    }
                    val (mn, mx) = (d(st.genericGetMin.asInstanceOf[AnyRef]),
                      d(st.genericGetMax.asInstanceOf[AnyRef]))
                    // NaN poisons ordering and ±Inf isn't a JSON number;
                    // parquet's own NaN handling is unreliable — drop
                    if (mn.isNaN || mx.isNaN || mn.isInfinite || mx.isInfinite)
                      unsafe += name
                    else {
                      loD(name) = loD.get(name).fold(mn)(math.min(_, mn))
                      hiD(name) = hiD.get(name).fold(mx)(math.max(_, mx))
                    }
                  } else if (strEnc(name)) {
                    def s(v: AnyRef): String = v match {
                      case b: org.apache.parquet.io.api.Binary =>
                        new String(b.getBytes, java.nio.charset.StandardCharsets.UTF_8)
                      case other => throw new IllegalStateException(
                        s"binary footer statistic expected, got ${other.getClass}")
                    }
                    val (mn, mx) = (s(st.genericGetMin.asInstanceOf[AnyRef]),
                      s(st.genericGetMax.asInstanceOf[AnyRef]))
                    // Java's UTF-16 compare and parquet/UTF8String byte
                    // order agree only on ASCII — a non-ASCII bound
                    // could mis-merge across row groups AND mis-compare
                    // against query bounds: drop the column's stats
                    if (mn.exists(_ >= 0x80) || mx.exists(_ >= 0x80))
                      unsafe += name
                    else {
                      loS(name) = loS.get(name).fold(mn)(o => if (mn < o) mn else o)
                      hiS(name) = hiS.get(name).fold(mx)(o => if (mx > o) mx else o)
                    }
                  }
                }
              }
            }
            val strBounds = loS.keys.filterNot(unsafe).flatMap { c =>
              strUpperBound(hiS(c)).map(ub => c -> (strLowerBound(loS(c)), ub))
            }.toMap
            (rows,
              lo.keys.map(c => c -> (lo(c), hi(c))).toMap,
              loD.keys.filterNot(unsafe).map(c => c -> (loD(c), hiD(c))).toMap,
              strBounds,
              nulls.view.filterKeys(!nullsUnknown(_)).toMap)
          } finally reader.close()
        if (rows == 0L) None // empty part: never registered, swept below
        else {
          val (kLo, kHi) = stats.getOrElse(keyCol, throw new IllegalStateException(
            s"LogTable: key column $keyCol has no footer stats in $p — " +
              "keys must be non-NULL integral"))
          // The identifier-field rule (Iceberg's: identifier fields are
          // required): a keyed table's key is NOT NULL. A NULL key can
          // never be upsert-replaced, key-deleted, or merge-on-read
          // targeted — it would sit in the table as an unreachable row —
          // and [[keyProvablyNotNull]] (which arms the SQL delta write's
          // non-nullable rowId) relies on every registration enforcing
          // this. Decided from the footer pass already in hand; a footer
          // that cannot PROVE zero nulls (unknown count) refuses too.
          statsN.get(keyCol) match {
            case Some(0L) => ()
            case other => throw new IllegalArgumentException(
              s"LogTable: key column $keyCol carries " +
                s"${other.fold("an unprovable number of")(n => s"$n")} NULL " +
                s"key(s) in $p — keyed-table keys are NOT NULL (a NULL key " +
                "can never be upserted, deleted, or merged); fill or filter " +
                "them before the write")
          }
          val name = s"${java.util.UUID.randomUUID().toString}.parquet"
          Files.move(p, dataDir(table).resolve(name), StandardCopyOption.ATOMIC_MOVE)
          Some(FileEntry(name, kLo, kHi, rows,
            stats.view.filterKeys(statSafe).toMap,
            statsD.view.filterKeys(statSafe).toMap,
            statsS.view.filterKeys(statSafe).toMap,
            statsN.view.filterKeys(statSafe).toMap))
        }
      }
  }

  /** EXPLICITLY-DESTRUCTIVE log truncation (the retention half of the
    * Delta checkpoint mechanic, separate from [[vacuum]]'s orphan GC):
    * consolidate the snapshot `keepLast` versions below the head into a
    * CHECKPOINT manifest (atomic in-place replace — readers see the old
    * commit or the complete checkpoint, never a torn log), delete every
    * manifest below it, then vacuum the data files only the deleted
    * history referenced. Time travel to versions below the checkpoint is
    * gone afterwards — that is the point (bounded log growth, bounded
    * storage). Versions in (head - keepLast, head] stay readable.
    * Returns (manifests deleted, data files deleted).
    *
    * Deployment note: run under the same retention discipline as any
    * lakehouse VACUUM — a reader older than the retention window can
    * lose its manifests mid-fold, and `vacuumGraceMillis` (see
    * [[vacuum]]) must exceed the longest writer stage-to-commit latency
    * so the trailing GC never deletes a file an in-flight writer staged
    * but has not yet referenced. */
  def truncateHistory(
      table: String, keepLast: Int, vacuumGraceMillis: Long = 0L): (Int, Int) = {
    require(keepLast >= 0, "keepLast must be >= 0")
    val ms = manifests(table)
    if (ms.isEmpty) return (0, 0)
    val head = ms.last.version
    val cut = head - keepLast
    // nothing below the would-be checkpoint -> no-op (also covers cut < 1)
    if (!ms.exists(_.version < cut)) return (0, 0)
    val (_, liveAtCut, schemaAtCut) = snapshotWithSchema(table, Some(cut))
    // the checkpoint carries the per-app epoch fold at the cut, so a
    // streaming writer's replay watermark survives history truncation
    // (else a restarted query could double-append a replayed epoch
    // whose original manifest was just deleted)
    val txnsAtCut = ms.filter(_.version <= cut).flatMap(_.txns)
      .groupMapReduce(_._1)(_._2)(math.max)
    // the checkpoint REPLACES v{cut}: keep that commit's original
    // wall-clock so TIMESTAMP AS OF answers don't shift under retention
    val tsAtCut = ms.find(_.version == cut).map(m =>
      if (m.ts > 0L) m.ts else commitTs(table, m)).getOrElse(0L)
    val ckpt = Manifest(cut, liveAtCut, removes = Seq.empty,
      schema = schemaAtCut.map(_.json).getOrElse(""), checkpoint = true,
      keyCol = tableKeyCol(table).getOrElse(""), txns = txnsAtCut,
      ts = tsAtCut,
      // the fold RESETS at a checkpoint, so it must carry the deletion
      // vectors accumulated at the cut or the dead rows come back —
      // and the table-property fold, or truncation would silently
      // unset every property committed below the cut
      dvs = liveDvs(table, Some(cut)),
      dvp = livePosDvs(table, Some(cut)),
      props = tableProps(table, Some(cut)))
    // atomic REPLACE of v{cut}: full content lands under a temp name,
    // then rename(2) swaps it in — unlike commit's create-link claim,
    // replacement is the intent here and rename's replace is atomic
    val tmp = logDir(table).resolve(s".ckpt-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, render(ckpt))
    Files.move(tmp, versionPath(table, cut), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // the ONE in-place manifest rewrite in the engine: purge its parse
    // cache entries (see cachedParse's immutability contract)
    uncacheManifest(versionPath(table, cut))
    val dropped = ms.filter(_.version < cut)
    dropped.foreach(m => Files.deleteIfExists(versionPath(table, m.version)))
    (dropped.size, vacuum(table, vacuumGraceMillis).size)
  }

  /** Garbage-collect data files NO version references — the debris of
    * crashed or race-losing writers. Files referenced by ANY manifest
    * (including superseded versions) are kept so time travel stays
    * valid; dropping history would be a separate, explicitly-destructive
    * log truncation. Returns the deleted file names.
    *
    * `graceMillis` is the standard lakehouse VACUUM guard against a
    * maintenance-vs-writer race: [[writeData]] moves staged part files
    * into `data/` BEFORE the commit manifest lands, so a file younger
    * than the grace window may belong to an in-flight writer about to
    * reference it — deleting it would commit a manifest pointing at
    * nothing. The default 0 is the single-writer/test convenience;
    * PRODUCTION deployments with concurrent writers must set it above
    * the longest write-stage-to-commit latency (minutes are plenty —
    * the stage-to-commit window is one footer pass + one file link). */
  def vacuum(table: String, graceMillis: Long = 0L): Seq[String] = {
    val referenced = manifests(table).flatMap(_.adds.map(_.file)).toSet
    val dir = dataDir(table)
    if (!Files.isDirectory(dir)) return Seq.empty
    val cutoff = System.currentTimeMillis() - graceMillis
    import scala.jdk.CollectionConverters._
    val it = Files.list(dir)
    val (orphans, staleStaging) =
      try {
        val (files, dirs) = it.iterator().asScala.toSeq.partition(Files.isRegularFile(_))
        (files.filter(p =>
          p.getFileName.toString.endsWith(".parquet") &&
            !referenced(p.getFileName.toString) &&
            (graceMillis <= 0L ||
              Files.getLastModifiedTime(p).toMillis <= cutoff)),
          // staging dirs a crashed writer never committed or aborted:
          // commit/abort sweep them on every normal path, so one older
          // than the grace window is debris. Age = the NEWEST of the
          // dir and its entries (a dir's own mtime changes only on
          // entry create/delete, not while a long part write streams
          // into an existing file — checking entries keeps an active
          // writer's dir young for the whole write)
          // With graceMillis <= 0 the age predicate would short-circuit
          // to true and sweep an ACTIVELY-WRITING epoch's staging dir —
          // so staging dirs are only candidates under a positive grace.
          // (Orphan .parquet FILES still sweep at grace 0: they are
          // referenced-set checked, not age-guessed. Crashed writers'
          // staging debris waits for the first graced vacuum.)
          dirs.filter { p =>
            p.getFileName.toString.startsWith(".staging-") &&
              graceMillis > 0L && {
                // a concurrently-committing writer may delete entries
                // (or the dir) mid-listing: any vanished path reads as
                // "active just now" — skip the dir, never crash vacuum
                try {
                  val ls = Files.list(p)
                  val newest =
                    try (Iterator(p) ++ ls.iterator().asScala)
                      .map(Files.getLastModifiedTime(_).toMillis).max
                    finally ls.close()
                  newest <= cutoff
                } catch { case _: java.io.IOException => false }
              }
          })
      } finally it.close()
    staleStaging.foreach { d =>
      // same race on the DELETION side: the dir's owner may sweep it (or
      // add a part) between our listing and these deletes —
      // NoSuchFileException / DirectoryNotEmptyException mean "someone
      // else is handling it", never a reason to crash the whole vacuum
      // (truncateHistory calls through here too)
      try {
        val ls = Files.list(d)
        try ls.iterator().asScala.foreach(Files.deleteIfExists(_)) finally ls.close()
        Files.deleteIfExists(d)
      } catch { case _: java.io.IOException => () }
    }
    // positional-DV sidecars sweep under the same rule: any sidecar NO
    // manifest references is debris (a stale attempt's sidecars, a
    // crashed writer) — referenced ones stay for time travel like data
    // files. The grace window guards in-flight writers identically.
    val dvRef = manifests(table).flatMap(_.dvp.valuesIterator.flatten).toSet
    val dvD = dvDir(table)
    val dvOrphans =
      if (!Files.isDirectory(dvD)) Seq.empty[String]
      else {
        val ls = Files.list(dvD)
        try ls.iterator().asScala.toSeq
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".bin") &&
            !dvRef(p.getFileName.toString) &&
            (graceMillis <= 0L ||
              Files.getLastModifiedTime(p).toMillis <= cutoff))
          .map { p => Files.deleteIfExists(p); p.getFileName.toString }
        finally ls.close()
      }
    orphans.map { p => Files.deleteIfExists(p); p.getFileName.toString } ++
      dvOrphans
  }

  /** Test seam: invoked once at the top of every [[commit]] claim
    * attempt — lets a spec deterministically land a racing commit INSIDE
    * another writer's read-compute-commit window (the race is otherwise
    * a nondeterministic thread interleaving). Production value is a
    * no-op; never control flow. */
  private[io] var onCommitAttempt: () => Unit = () => ()

  /** What one [[commit]] call decided. */
  private sealed trait Outcome
  /** the manifest is published */
  private case object Landed extends Outcome
  /** the transactional-epoch fence dropped it as a duplicate (app, epoch) */
  private case object Fenced extends Outcome
  /** a racer changed the read set — the caller must recompute */
  private case object Stale extends Outcome

  private val CommitAttempts = 50

  /** The claim budget of ONE verb call, shared by [[commit]]'s
    * re-claims and [[optimistically]]'s recomputes: a storm of either
    * fails loudly after [[CommitAttempts]] claims instead of recursing
    * or spinning without bound. */
  private final class Budget {
    private var left = CommitAttempts
    /** true once a claim was spent — every later attempt is a recompute */
    def spent: Boolean = left < CommitAttempts
    def claim(table: String): Unit = {
      if (left <= 0) throw new IllegalStateException(
        s"LogTable commit on $table lost $CommitAttempts straight races — aborting loudly")
      left -= 1
    }
  }

  /** The ONE recompute loop: `attempt` pins a fresh snapshot, computes
    * its delta and hands it to [[commit]] with the shared budget; a
    * [[Stale]] verdict ([[verdict]] → None) re-runs it against the new
    * head. Returns whether a manifest landed — false for a no-op attempt
    * or a fenced duplicate epoch. */
  private def optimistically(attempt: Budget => Option[Boolean]): Boolean = {
    val budget = new Budget
    @scala.annotation.tailrec
    def go(): Boolean = attempt(budget) match {
      case Some(landed) => landed
      case None => go()
    }
    go()
  }

  /** An attempt's result for [[optimistically]]: None recomputes. */
  private def verdict(o: Outcome): Option[Boolean] =
    if (o == Stale) None else Some(o == Landed)

  /** For the callers that must NOT recompute (their delta was computed
    * by someone else, or no serial order can make it stale): a
    * [[Stale]] verdict fails with `stale`. */
  private def landedOrFail(o: Outcome, stale: => Exception): Boolean =
    if (o == Stale) throw stale else o == Landed

  /** Publish `m` as version `v`: write it in full under a hidden temp
    * name (readers only match v########.json), then HARD-LINK it to the
    * version path — link(2) both fails-if-exists (the optimistic claim)
    * and exposes complete content in one atomic step, so no reader can
    * observe a torn manifest. rename(2) is NOT usable here: it silently
    * replaces an existing winner. Returns whether this call claimed `v`;
    * the temp file never outlives the call, whatever it throws. */
  private def publish(table: String, v: Long, m: Manifest): Boolean = {
    val tmp = logDir(table).resolve(s".tmp-${java.util.UUID.randomUUID()}")
    try {
      Files.writeString(tmp, render(m))
      try { Files.createLink(versionPath(table, v), tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }

  /** Claim v1 of a new table — no re-claim: the loser of a create race
    * gets the typed [[TableAlreadyExistsException]]. */
  private def publishFirst(table: String, m: Manifest): Unit =
    if (!publish(table, 1L, m)) throw new TableAlreadyExistsException(table)

  /** Optimistic commit: claim version `snapshotVersion + 1` — the
    * version pinned when the caller read its snapshot, NOT the current
    * head (re-reading the head here would silently skip validation of
    * any commit that landed in between: the TOCTOU LogTableSpec's
    * conflicting-upsert test forces). If the claim is lost, the conflict
    * check is two-sided, the WriteSerializable core:
    *
    *   - REMOVED files: when an intervening commit removed a file we
    *     based our delta on, the snapshot is stale — [[Stale]];
    *   - ADDED files: when an intervening commit ADDED a file whose key
    *     range intersects this operation's `keyRange`, re-claiming would
    *     produce a state no serial order allows (two upserts of a key no
    *     existing file covered would BOTH land — duplicate keys; an
    *     append into a just-deleted range would survive the later
    *     delete) — [[Stale]], recompute against the racer's rows. The
    *     check is manifest arithmetic (minKey/maxKey), zero file reads.
    *
    * Otherwise the read set is untouched and disjoint — re-claim at the
    * new head. Every claim draws on `budget`, so a pathological storm
    * fails loudly whether it forces re-claims or recomputes. */
  private def commit(
      table: String, budget: Budget, snapshotVersion: Long, adds: Seq[FileEntry],
      removes: Seq[String],
      schema: String = "", keyRange: Option[(Long, Long)] = None,
      keyCol: String = "", txns: Map[String, Long] = Map.empty,
      // a NARROWING schema commit (dropColumns) must not take the
      // re-claim path's union merge — the union would re-add the very
      // fields the commit drops. On any schema race it is Stale instead
      // (the recompute re-narrows whatever the racer left).
      schemaNarrowing: Boolean = false,
      dvs: Map[String, Seq[Long]] = Map.empty,
      // READ-SET validation for operations whose commit does not remove
      // the files their decisions were computed from (mergeDV): a racer
      // dropping or vector-deleting rows under any of these files
      // invalidates the decisions — Stale instead of re-claiming.
      requireLive: Seq[String] = Seq.empty,
      props: Map[String, String] = Map.empty,
      dvp: Map[String, Seq[String]] = Map.empty): Outcome = {
    @scala.annotation.tailrec
    def claimAbove(expected: Long, committedSchema: String): Outcome = {
      budget.claim(table)
      // transactional-epoch fence, checked on EVERY attempt BEFORE the
      // claim: a rival attempt of the same (app, epoch) may land in the
      // window between the caller's pre-check and this commit (or
      // between retry attempts) — at any version, not only above our
      // snapshot. Without this, a split-brain driver pair could both
      // pass their pre-checks and the second would claim a fresh head
      // cleanly, double-applying the epoch.
      if (txns.exists { case (app, e) => lastTxnEpoch(table, app).exists(_ >= e) })
        return Fenced
      // write-time constraints, re-checked on EVERY attempt (a racer's
      // ADD CONSTRAINT between attempts is honored): added files must
      // PROVE compliance from their footer stats — zero data reads
      requireConstraintsOnAdds(table, adds, committedSchema, props)
      // ... and a constraint being SET in this commit must hold over the
      // snapshot it lands on. Validate only when the head equals our
      // claim target's predecessor: if a racer moved the head, this
      // attempt's link fails anyway and the next iteration re-validates
      // against the fresh snapshot — so a successful claim always proves
      // the constraints over its exact predecessor.
      if (props.exists { case (k, v) =>
        k.startsWith(ConstraintPrefix) && v.nonEmpty }) {
        val (hv, liveNow, _) = snapshotWithSchema(table, None)
        if (hv == expected)
          requireConstraintsOnSnapshot(table, props, liveNow, committedSchema)
      }
      onCommitAttempt()
      val v = expected + 1
      if (publish(table, v, Manifest(v, adds, removes, committedSchema,
          keyCol = keyCol, txns = txns, ts = System.currentTimeMillis(),
          dvs = dvs, props = props, dvp = dvp))) return Landed
      val (headNow, liveFiles, headSchema) = snapshotWithSchema(table, None)
      // every manifest above the ORIGINAL snapshot is a racer's (ours
      // never landed)
      val racers = manifests(table).filter(_.version > snapshotVersion)
      // added-file conflict: a checkpoint manifest in range re-lists old
      // files and may force a spurious recompute — safe, merely
      // conservative
      val addedConflict = keyRange.exists { case (lo, hi) =>
        racers.exists(_.adds.exists(a => a.minKey <= hi && a.maxKey >= lo))
      }
      // a racer attached a DELETION VECTOR to a file we are about to
      // remove (re-claiming would drop the racer's vector with the
      // file — a lost delete), or to a file in our validated READ
      // SET (our decisions predate the racer's row kills): recompute.
      // (A racer attaching a vector to a file we also attach one to is
      // safe — vectors union in the fold; a racer REMOVING such a file
      // folds our vector away with it, and the keyRange rule above
      // catches the overlapping-range case.)
      val dvConflict = (removes.nonEmpty || requireLive.nonEmpty) && {
        val ours = removes.toSet ++ requireLive
        racers.exists(m => m.dvs.keys.exists(ours) || m.dvp.keys.exists(ours))
      }
      val liveNames = liveFiles.map(_.file).toSet
      // racer rewrote files we based our delta on, or landed rows
      // inside our key range
      if (!removes.forall(liveNames) || !requireLive.forall(liveNames) ||
          addedConflict || dvConflict) return Stale
      // independent commits landed first; our read set is intact —
      // re-claim directly above the new head, under a schema that keeps
      // the racers' evolution. A racer that evolved the schema under a
      // NARROWING commit is a recompute (union-merging would resurrect
      // the dropped fields; keeping ours would lose the racer's adds).
      if (committedSchema.isEmpty) claimAbove(headNow, committedSchema)
      else if (schemaNarrowing && headSchema.exists(_.json != committedSchema)) Stale
      else reclaimSchema(table, snapshotVersion, committedSchema, headSchema) match {
        case Some(merged) => claimAbove(headNow, merged)
        case None => Stale
      }
    }
    claimAbove(snapshotVersion, schema)
  }

  /** The schema a re-claim commits above a racer's head. Re-claiming
    * with our pre-race schema would silently revert the racer's new
    * columns (snapshotWithSchema picks the LATEST non-empty schema), so
    * merge: the head's fields first, plus any that only we carry — the
    * same result as either serial order. None when the race narrowed a
    * field we still carry (the caller recomputes). */
  private def reclaimSchema(
      table: String, snapshotVersion: Long, committedSchema: String,
      headSchema: Option[org.apache.spark.sql.types.StructType]): Option[String] =
    headSchema.fold(Option(committedSchema)) { head =>
      val ours = org.apache.spark.sql.types.DataType
        .fromJson(committedSchema)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      // same-name/different-type is a REAL conflict, not a merge:
      // serial execution would fail addColumns' cannot-re-add check
      // loudly, so the race must too — keeping the head's field and
      // dropping ours would silently change the loser's committed
      // type (ADD COLUMN x LONG racing ADD COLUMN x INT)
      val headTypes = head.fields.map(f => f.name -> f.dataType).toMap
      ours.fields.foreach { f =>
        headTypes.get(f.name).filter(_ != f.dataType).foreach { ht =>
          throw new IllegalStateException(
            s"LogTable commit on $table: schema conflict with a racing " +
              s"commit — column '${f.name}' is $ht at the head but " +
              s"${f.dataType} in this commit; neither serial order " +
              "allows both")
        }
      }
      val headNames = head.fieldNames.toSet
      val oursOnly = ours.fields.filterNot(f => headNames(f.name))
      // a field we carry that the head lacks is EITHER our own
      // evolution (the head simply predates it — merge keeps it) OR a
      // RACER'S NARROWING (drop/rename landed after our snapshot —
      // merging would resurrect the dropped column over files that
      // still physically carry it, and for a rename would commit TWO
      // logical fields over one physical name, breaking every read).
      // Decide against the schema at OUR snapshot: a field that existed
      // there and is gone from the head was narrowed by a racer —
      // recompute, never merge (the recompute sees the narrowed head and
      // fails or proceeds exactly as the serial order would).
      val snapFields =
        if (oursOnly.isEmpty) Set.empty[String]
        else snapshotWithSchema(table, Some(snapshotVersion))
          ._3.map(_.fieldNames.toSet).getOrElse(Set.empty[String])
      if (oursOnly.exists(f => snapFields(f.name))) None
      else Some(org.apache.spark.sql.types.StructType(head.fields ++ oursOnly).json)
    }
}
