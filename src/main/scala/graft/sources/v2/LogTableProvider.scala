package graft.sources.v2

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.io.LogTable

/** DataSource V2 connector for [[graft.io.LogTable]] — the SQL/DataFrame
  * front door to the log-structured table format:
  * `spark.read.format("graft-log").load(path)` (the `graft-log` short
  * name registers via META-INF/services).
  *
  * What it adds over the Scala API's full-snapshot [[LogTable.read]] (it
  * is the engine's ONE stats-pruned read path):
  *
  *   - '''declarative file skipping''': `SupportsPushDownFilters` maps
  *     query predicates onto the manifest's per-column stats
  *     ([[LogTable.FileEntry]] cols/colsD/colsS — integrals, TIMESTAMP
  *     micros, DATE days, doubles, truncated ASCII strings), so a
  *     `WHERE order_date >= X` on a view prunes data files with ZERO
  *     footer reads, without the caller ever touching the Scala API.
  *     Pruning is conservative (whole files; strict bounds widened to
  *     inclusive; stat-less columns admit) and every filter is returned
  *     as residual for Spark to re-apply row-level;
  *   - '''column pruning''': `SupportsPushDownRequiredColumns` narrows
  *     the parquet projection per file (an empty projection — count(*)
  *     — reads only footer row counts and fetches zero data pages);
  *   - '''manifest statistics''': `estimateStatistics` reports the
  *     pruned files' exact manifest row sum, so Catalyst can pick a
  *     broadcast join for a pruned log read on its own;
  *   - '''time travel''': `.option("asOf", v)` reads the snapshot at
  *     version v under the schema committed at v.
  *
  * Partition granularity is one task per data file — the same unit the
  * manifest tracks and [[LogTable.compact]] right-sizes, so task count
  * follows file maintenance exactly as a lakehouse scan's does.
  *
  * The per-file reader decodes parquet through the public parquet-mr
  * Group API (no Spark-internal reader classes): supported column shapes
  * are the FLAT warehouse types this format targets — integrals,
  * double/float, string/binary, boolean, timestamp (INT64 micros and
  * legacy INT96), date. Columns added by schema evolution AFTER a file
  * was written surface as typed NULLs, exactly as [[LogTable.read]]
  * serves them.
  */
class LogTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-log"

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-log: a table path is required — spark.read.format(\"graft-log\").load(<path>)"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = LogTableProvider.schemaOf(pathOf(options),
      LogTableProvider.asOf(options, pathOf(options)))
    if (LogTableProvider.cdfOf(options)) LogTableProvider.withCdfColumns(base)
    else base
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new LogTableTable(pathOf(opts), schema,
      LogTableProvider.asOf(opts, pathOf(opts)),
      cdf = LogTableProvider.cdfOf(opts))
  }
}

/** A file-level admission check inside a pushed CNF clause. */
private[v2] sealed trait FileCheck
private[v2] final case class BoundCheck(
    col: String, b: graft.io.LogTable.StatBound) extends FileCheck
private[v2] final case class NullCheck(
    col: String, wantNull: Boolean) extends FileCheck

object LogTableProvider {
  /** Snapshot pin from read options: `asOf` (a version) or
    * `asOfTimestamp` (epoch millis or an ISO-8601 instant, resolved to
    * the last version committed at or before it — the DataFrame twin of
    * SQL `TIMESTAMP AS OF`). Mutually exclusive, loudly. */
  private[v2] def asOf(
      options: CaseInsensitiveStringMap, path: String): Option[Long] =
    (Option(options.get("asOf")), Option(options.get("asOfTimestamp"))) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "graft-log: pass ONE of asOf (version) / asOfTimestamp (instant)")
      case (Some(v), None) =>
        // beyond-head refuses here too: the manifest fold's <= filter
        // would serve the head labeled @v — invented history (name()
        // and properties() would even render the phantom version)
        val asOfV = v.toLong
        val head = LogTable.version(path)
        require(asOfV <= head,
          s"graft-log: asOf version $asOfV does not exist for $path " +
            s"(head is $head)")
        Some(asOfV)
      case (None, Some(t)) =>
        val millis = t.toLongOption.getOrElse(
          java.time.Instant.parse(t).toEpochMilli)
        // memoized per (path, instant, CURRENT HEAD): inferSchema and
        // getTable both resolve, and two independent resolutions could
        // pin DIFFERENT versions if a commit lands between them
        // (schema/scan mismatch for a near-now instant). Keying on the
        // head makes the cache self-invalidating: a dropped-and-
        // recreated table (or any new commit) has a different head and
        // re-resolves, so no entry can outlive the log state it
        // described — while the inferSchema/getTable pair of one read
        // sees one answer (for a PAST instant even a mid-read commit
        // re-resolves identically: new commits stamp the current clock,
        // beyond the instant).
        if (tsCache.size() > 1024) tsCache.clear() // memory bound only
        val head = LogTable.version(path)
        Some(tsCache.computeIfAbsent((path, millis, head),
          (_: (String, Long, Long)) => LogTable.versionAtTimestamp(path, millis)))
      case _ => None
    }

  private val tsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Long]()

  /** Change-feed column names (the Delta CDF vocabulary): present as
    * ordinary trailing schema fields when `readChangeFeed` is set. */
  private[v2] val ChangeTypeCol = "_change_type"
  private[v2] val CommitVersionCol = "_commit_version"

  private[v2] def cdfOf(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("readChangeFeed")).exists(_.toBoolean)

  private[v2] def withCdfColumns(base: StructType): StructType = {
    Seq(ChangeTypeCol, CommitVersionCol).foreach { reserved =>
      require(!base.fieldNames.exists(_.equalsIgnoreCase(reserved)),
        s"graft-log readChangeFeed: the table carries a data column named " +
          s"'$reserved' — the change feed reserves it")
    }
    StructType(base.fields :+
      StructField(ChangeTypeCol, StringType, nullable = false) :+
      StructField(CommitVersionCol, LongType, nullable = false))
  }

  /** The committed schema at the snapshot — parquet inference only for
    * pre-evolution tables (manifests without a schema), empty for an
    * empty table. Reported all-NULLABLE, as Spark's own file sources
    * treat a user schema: a column added by evolution is non-null in
    * the batch that committed it but NULL on every earlier file, and a
    * non-nullable field would make downstream projections read garbage
    * zeros instead of those NULLs. */
  private[v2] def schemaOf(table: String, asOf: Option[Long]): StructType = {
    val committed = {
      val (_, files, schema) = LogTable.snapshotWithSchema(table, asOf)
      // (RENAMED tables serve through the scan: the partition-facing
      // projection carries PHYSICAL names — LogTableScanBuilder
      // .requiredPhysJson — and stats admission / aggregate answers map
      // logical → physical. VECTORED tables serve too: each partition
      // carries its file's dead-key set and the reader filters —
      // aggregate pushdown and the count(*) footer shortcut disable
      // themselves on vectored files. Only the row-level WRITE path on
      // renamed tables refuses, LogTable.replaceStaged.)
      schema.getOrElse {
        if (files.isEmpty) new StructType()
        // mergeSchema: one-footer sampling could hide a legacy column on
        // heterogeneous pre-evolution tables (same fix as LogTable.append)
        else SparkSession.active.read.option("mergeSchema", "true").parquet(
          files.map(f => LogTable.dataDir(table).resolve(f.file).toString): _*).schema
      }
    }
    // Everything nullable (schema evolution serves typed NULLs for
    // columns older files lack) — EXCEPT the key column when the
    // manifest stats prove it null-free (zero colsN on every live file,
    // enforced on every registration since): a non-nullable key is what
    // arms the SQL merge-on-read path, whose delta rowId Spark requires
    // to be non-null. The proof is monotone — registration rejects null
    // keys — so a snapshot read under this declaration can never meet a
    // NULL key, even from files committed after the table loaded.
    val keyNotNull =
      if (LogTable.keyProvablyNotNull(table, asOf))
        LogTable.tableKeyCol(table) else None
    StructType(committed.fields.map(f =>
      f.copy(nullable = !keyNotNull.contains(f.name))))
  }
}

class LogTableTable(
    path: String, tableSchema: StructType, asOf: Option[Long],
    cdf: Boolean = false)
    extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** `_file` — the manifest file name each row lives in, as a STRING
    * metadata column (`SELECT _file, * FROM t` surfaces it; hidden from
    * `*`). Besides observability, this is the GROUP identity Spark's
    * runtime group filtering keys on for row-level operations: the
    * group-filter subquery selects DISTINCT `_file` of rows matching
    * the MERGE/UPDATE condition, and the row-level scan drops every
    * unmatched file — so a 10-key MERGE rewrites the one file holding
    * those keys, not the table (the Iceberg `_file` mechanic). Hidden
    * entirely when a data column already claims the name: the data
    * column wins and runtime group filtering quietly disables. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (tableSchema.fieldNames.exists(_.equalsIgnoreCase(LogTableTable.FileCol)))
      Array.empty
    else Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name: String = LogTableTable.FileCol
      override def dataType: DataType = StringType
      override def isNullable: Boolean = false
      override def comment: String =
        "graft-log data file (manifest name) the row lives in"
    })

  private def fileColIsMetadata: Boolean =
    !tableSchema.fieldNames.exists(_.equalsIgnoreCase(LogTableTable.FileCol))
  // (table-level: no projection yet — only the name-conflict half)

  /** SQL `UPDATE` / `MERGE INTO` as GROUP-BASED row-level operations
    * (the Iceberg copy-on-write shape): Spark drives the rewrite — the
    * operation's search scan finds candidate files (manifest-stats
    * pruned through the same pushed-filter machinery as any read),
    * Spark computes the affected groups' FULL replacement rows
    * (modified + untouched), and the write swaps exactly the scanned
    * files for the new ones in one commit ([[LogTable.replaceFiles]]).
    * The snapshot is pinned ONCE per statement, so the search scan, the
    * replacement plan's second read, and the commit all describe the
    * same version; a racer rewriting a scanned file fails the statement
    * loudly instead of recomputing half of Spark's plan. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (asOf.isDefined) throw new UnsupportedOperationException(
      "graft-log: cannot modify an asOf snapshot — history is immutable")
    // The row-level strategy — session conf > stored `rowLevel` table
    // property > copy-on-write ([[rowLevelMode]]): `copy-on-write`
    // plans a group replacement — cost proportional to the files
    // holding matched rows, right for bulk changes; `merge-on-read`
    // plans a row DELTA that commits deletion vectors + appended images
    // with ZERO files rewritten ([[LogDeltaRowLevelOperation]]) — right
    // for small-key statements against big files. Merge-on-read needs a
    // provably non-null key (Spark rejects nullable row IDs), which
    // [[LogTableProvider.schemaOf]] declares exactly when the manifest
    // stats prove it.
    val mode = rowLevelMode
    if (mode == "merge-on-read") {
      val key = LogTable.tableKeyCol(path).getOrElse(
        throw new UnsupportedOperationException(
          s"graft-log merge-on-read: $path predates the key-column " +
            "property — run one keyed write first, or use copy-on-write"))
      if (!LogTable.keyProvablyNotNull(path, None))
        throw new UnsupportedOperationException(
          s"graft-log merge-on-read: $path cannot PROVE key '$key' " +
            "null-free (a pre-stats file, or stats the manifest cannot " +
            "carry for this name) — compact() to rewrite with stats, or " +
            "SET spark.graft.rowLevel.mode=copy-on-write")
      require(tableSchema.fieldNames.contains(key),
        s"graft-log merge-on-read: key '$key' is not in the read schema")
      return () => new LogDeltaRowLevelOperation(
        path, tableSchema, key, fileColIsMetadata, info)
    }
    require(mode == "copy-on-write",
      s"graft-log: unknown spark.graft.rowLevel.mode '$mode' — use " +
        "copy-on-write or merge-on-read")
    () => new org.apache.spark.sql.connector.write.RowLevelOperation {
      private val (snapVersion, snapshot, snapSchema) =
        LogTable.snapshotWithSchema(path, None)
      // files the search scan actually planned — the groups the write
      // replaces. Volatile: scan planning and write commit happen on
      // different threads of the same statement. None until the search
      // scan's build() reports in: defaulting to the FULL snapshot here
      // would make "scan optimized away" fail as table-wide data loss
      // (remove every file, write only the query's rows) — the commit
      // refuses loudly instead.
      @volatile private var scanned: Option[Seq[LogTable.FileEntry]] = None

      override def command()
          : org.apache.spark.sql.connector.write.RowLevelOperation.Command =
        info.command()

      /** Projecting `_file` into the row-level read is what arms
        * Spark's RowLevelOperationRuntimeGroupFiltering: with it, a
        * MERGE/UPDATE whose matched keys live in K files rewrites K
        * files; without it, every statically-admitted file. The write
        * side is unaffected — ReplaceDataExec projects metadata back
        * out before rows reach the group writer. */
      override def requiredMetadataAttributes()
          : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        if (fileColIsMetadata)
          Array(org.apache.spark.sql.connector.expressions.Expressions
            .column(LogTableTable.FileCol))
        else Array.empty

      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new LogTableScanBuilder(path, tableSchema, None,
          pinnedSnapshot = Some(snapshot),
          pinnedVersion = Some(snapVersion),
          onPlanned = fs => scanned = Some(fs))

      override def newWriteBuilder(
          wi: org.apache.spark.sql.connector.write.LogicalWriteInfo)
          : org.apache.spark.sql.connector.write.WriteBuilder =
        new org.apache.spark.sql.connector.write.WriteBuilder {
          override def build(): org.apache.spark.sql.connector.write.Write =
            new org.apache.spark.sql.connector.write.Write {
              override def toBatch
                  : org.apache.spark.sql.connector.write.BatchWrite =
                new LogGroupBatchWrite(path, snapVersion,
                  () => scanned.getOrElse(throw new IllegalStateException(
                    s"graft-log row-level op on $path: the search scan was " +
                      "never planned (onPlanned did not fire) — refusing a " +
                      "commit that cannot know which files it replaces"))
                    .map(_.file), wi.schema(),
                  // mapping from the op's PINNED schema (statement
                  // resolution time), not wi.schema(): assigned columns
                  // arrive as aliases whose metadata Spark does not
                  // guarantee to carry the rename mapping
                  LogTable.mappingOf(snapSchema))
            }
        }
    }
  }

  /** SQL `DELETE FROM ... WHERE` (and `TRUNCATE TABLE` via Spark's
    * AlwaysTrue default): accepted iff EVERY predicate translates to a
    * row-level Column, so the delete is exact — Spark has no rewrite
    * fallback when this returns false, so a partial acceptance would
    * silently delete the wrong set. Execution reuses the scan's
    * manifest-stats admission for the file set (a DELETE whose window
    * misses a file's bounds never rewrites it) and
    * [[LogTable.deleteWhere]]'s rewrite commit for the rows. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    if (asOf.isDefined) return false
    // Under merge-on-read, metadata delete serves every TRANSLATABLE
    // predicate without rewriting a file: a small key list takes the
    // zero-read deleteKeysDV fast path, anything else (bulk key lists
    // included — no cap) takes the POSITIONAL bitmap path
    // (deleteWherePositional: one position scan, sidecar commits, zero
    // rewrites). Untranslatable predicates refuse here so Spark falls
    // back to the row-level DELTA plan.
    if (rowLevelMode == "merge-on-read")
      return pureKeyList(filters).exists(_.size <= LogTable.DvMaxKeys) ||
        filters.forall(f => LogTableTable.filterToColumn(f).isDefined)
    filters.forall(f => LogTableTable.filterToColumn(f).isDefined)
  }

  /** `Some(keys)` iff `filters` is exactly a key-list predicate on the
    * table's key column — `k = v` / `k IN (...)` conjuncts (intersected)
    * plus the `IsNotNull(k)` Spark adds. The deletion-vector DELETE fast
    * path's admission test, shared with [[canDeleteWhere]]'s
    * merge-on-read gate. */
  private def pureKeyList(
      filters: Array[org.apache.spark.sql.sources.Filter]): Option[Seq[Long]] =
    LogTable.tableKeyCol(path).flatMap { key =>
      def keyVals(f: org.apache.spark.sql.sources.Filter): Option[Seq[Long]] = f match {
        case org.apache.spark.sql.sources.EqualTo(c, v) if c == key =>
          LogTableTable.integralLong(v).map(Seq(_))
        case org.apache.spark.sql.sources.In(c, vs) if c == key && vs.nonEmpty =>
          val ls = vs.toSeq.map(LogTableTable.integralLong)
          if (ls.forall(_.isDefined)) Some(ls.flatten) else None
        case _ => None
      }
      var pure = true
      var lists = List.empty[Seq[Long]]
      filters.foreach {
        case org.apache.spark.sql.sources.IsNotNull(c) if c == key => ()
        case f => keyVals(f) match {
          case Some(ks) => lists ::= ks
          case None => pure = false
        }
      }
      if (pure && lists.nonEmpty) Some(lists.map(_.toSet).reduce(_ intersect _).toSeq)
      else None
    }

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    if (asOf.isDefined) throw new UnsupportedOperationException(
      "graft-log: cannot delete from an asOf snapshot — history is immutable")
    // DELETION-VECTOR fast path (the Delta DV-backed DELETE): a pure
    // key-list predicate — `k IN (...)` / `k = v` on the table's key
    // column, plus the IsNotNull(k) conjunct Spark adds — within the
    // small-delta budget commits dead keys instead of rewriting files:
    // zero reads, zero rewrites, identical semantics (NULL keys never
    // match a key list, and deleteKeysDV never kills them; readers —
    // engine and connector — apply the vector everywhere). GATED on the
    // table's merge-on-read policy, mirroring canDeleteWhere: under the
    // default copy-on-write a key-list DELETE must rewrite (the mode's
    // contract — no dead bytes, aggregate pushdown and exact row counts
    // stay live); vectors are strictly an opt-in. Anything else stays
    // on the exact stats-pruned rewrite.
    if (rowLevelMode == "merge-on-read") LogTable.tableKeyCol(path).foreach { key =>
      pureKeyList(filters).foreach { keys =>
        if (keys.size <= LogTable.DvMaxKeys) {
          if (keys.nonEmpty)
            LogTable.deleteKeysDV(SparkSession.active, path, key, keys)
          return
        }
      }
    }
    val pred = filters.toSeq
      .map(f => LogTableTable.filterToColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"graft-log DELETE: unsupported predicate $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // the scan builder's pushdown decides file admission: pushable
    // predicates prune, unpushable ones leave files conservatively in
    val sb = new LogTableScanBuilder(path, tableSchema, None)
    sb.pushFilters(filters)
    if (rowLevelMode == "merge-on-read")
      // BULK merge-on-read: positional bitmap vectors — one position
      // scan of the admitted files, sidecar commits, ZERO rewrites, no
      // key-count cap (the Delta DV bulk-DELETE shape)
      LogTable.deleteWherePositional(SparkSession.active, path, sb.fileAdmitted, pred)
    else
      LogTable.deleteWhere(SparkSession.active, path, sb.fileAdmitted, pred)
  }
  override def name(): String = s"graft_log($path${asOf.fold("")(v => s"@v$v")})"
  override def schema(): StructType = tableSchema

  /** Surfaced through `DESCRIBE TABLE EXTENDED` / `SHOW TBLPROPERTIES`:
    * the key column (the table property every keyed write validates
    * against) and the snapshot version this Table instance describes.
    * Informational — computed at load, not live. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    // USER properties first (the stored TBLPROPERTIES fold at this
    // snapshot), computed ones after so they can never be shadowed
    LogTable.tableProps(path, asOf).foreach { case (k, v) => m.put(k, v) }
    // "provider"/"location" are Spark-reserved property names (filtered
    // out of SHOW TBLPROPERTIES) — use format-prefixed keys instead
    m.put("format", "graft-log")
    LogTable.tableKeyCol(path).foreach(m.put("keyCol", _))
    m.put("version", asOf.getOrElse(LogTable.version(path)).toString)
    m
  }

  /** The statement's row-level strategy: the SESSION conf when set
    * (operator override), else the table's stored `rowLevel` property
    * (the per-table policy, the Delta/Iceberg idiom), else copy-on-write. */
  private def rowLevelMode: String =
    SparkSession.active.conf.getOption("spark.graft.rowLevel.mode")
      .orElse(LogTable.tableProps(path).get("rowLevel"))
      .getOrElse("copy-on-write")
  // ACCEPT_ANY_SCHEMA: without it Spark's TableOutputResolver enforces
  // exact column arity against schema() at ANALYSIS time, so a
  // schema-evolving append (a wider batch) dies with
  // INSERT_COLUMN_ARITY_MISMATCH before [[LogTable.append]]'s own
  // requireCompatible + column-union evolution ever runs. Declaring it
  // defers ALL schema validation to the append path — the same trade
  // Delta makes — which rejects type drift loudly and unions new
  // columns (older files serve typed NULLs).
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val skip = Option(options.get("skipChangeCommits")).exists(_.toBoolean)
    require(!(cdf && skip),
      "graft-log: readChangeFeed and skipChangeCommits conflict — the " +
        "change feed SERVES change commits; skipping them would silently " +
        "drop acknowledged changes")
    new LogTableScanBuilder(path, tableSchema, asOf,
      startingVersion = Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L),
      skipChangeCommits = skip,
      maxVersionsPerTrigger =
        Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
      cdf = cdf)
  }

  /** Append write path — `df.write.format("graft-log").mode("append")
    * .save(path)` — bridged to [[LogTable.append]] through the V1
    * InsertableRelation seam (the same bridge Spark's JDBC connector
    * uses): the manifest commit, footer-driven stats, schema-evolution
    * union, and optimistic-concurrency logic all come from the ONE
    * implementation the Scala API exercises, instead of a parallel
    * per-task writer that could drift from it. The key column resolves
    * from `.option("keyCol", ...)` or the table's recorded key-column
    * property.
    *
    * A first write onto an empty path BOOTSTRAPS the table
    * ([[LogTable.create]]) when `.option("keyCol", ...)` names the key
    * — the `foreachBatch` sink idiom, where the writer cannot know
    * whether a prior batch already initialized the state table. Without
    * the option there is no key column to record, so the write fails at
    * ANALYSIS with guidance (a silent keyless table would misprune
    * every later upsert). Two racing bootstrappers are safe: create
    * claims exactly v1, the loser detects the winner's commit and
    * downgrades to the write it would have been. SQL `INSERT OVERWRITE`
    * / `mode("overwrite")` land as ONE versioned replace-all commit
    * ([[LogTable.overwriteAll]] via SupportsTruncate) — ordinary log
    * history, time travel intact; only writes against an `asOf`
    * snapshot are rejected, and actual history destruction remains
    * [[LogTable.truncateHistory]]'s explicit job. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (asOf.isDefined) throw new UnsupportedOperationException(
      "graft-log: cannot write to an asOf snapshot — history is immutable")
    val optKey = Option(info.options.get("keyCol"))
    if (LogTable.version(path) == 0L && optKey.isEmpty)
      throw new IllegalStateException(
        s"graft-log write: $path does not exist — pass " +
          ".option(\"keyCol\", <column>) to create it on first write, " +
          "or initialize it with LogTable.create")
    // The streaming-update marker is mixed in ONLY when the write asked
    // for upsert semantics (.option("upsert", true)): Update output mode
    // is then accepted and each epoch's changed rows replace their keys.
    // WITHOUT the option the builder does not carry the marker and Spark
    // rejects Update mode loudly at query start — silently appending one
    // row per (key, epoch-it-changed-in) into a KEYED table would be a
    // correctness footgun, not a default.
    val upsertOpt =
      Option(info.options.get("upsert")).exists(_.toBoolean)
    class LogWriteBuilder extends org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      // SQL `INSERT OVERWRITE` / `df.write.mode("overwrite")`: Spark
      // carries the verb by calling truncate() on the builder (the V1
      // bridge always passes insert(df, overwrite=false)); the write
      // then lands as ONE VERSIONED replace-all commit — regular log
      // history, time travel to the pre-overwrite snapshot intact.
      private var doOverwrite = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        doOverwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {

          /** `df.writeStream.format("graft-log").start(path)` — the
            * native exactly-once streaming sink ([[LogStreamingWrite]]):
            * each epoch is one transactional append commit fenced by the
            * streaming query id (stable across restarts via the
            * checkpoint) + epoch id in the manifest's txns map. The
            * table bootstraps on stream start when `keyCol` names the
            * key, mirroring the batch path's foreachBatch idiom. */
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            val key = optKey
              .orElse(LogTable.tableKeyCol(path))
              .getOrElse(throw new IllegalArgumentException(
                "graft-log streaming sink: pass .option(\"keyCol\", " +
                  "<column>) once (or initialize the table) — the commit " +
                  "records it from then on"))
            if (LogTable.version(path) == 0L)
              // losing the bootstrap race is FINE — the winner's table
              // serves this stream's epochs exactly as our own would
              // (the batch path below downgrades the same way); without
              // the catch a second query starting against the same
              // fresh path dies at start instead
              try LogTable.createEmpty(path, info.schema(), key)
              catch { case _: graft.io.TableAlreadyExistsException => () }
            // truncate() was called ⟺ Complete output mode: each
            // epoch's full state REPLACES the table (one versioned
            // remove-all+add commit — the continuously-refreshed
            // materialized-view shape). `.option("upsert", true)` makes
            // each epoch a fenced keyed upsert instead (the Update-mode
            // verb). Append commits deltas as-is.
            if (upsertOpt && doOverwrite) throw new IllegalArgumentException(
              "graft-log streaming sink: .option(\"upsert\", true) and " +
                "Complete output mode conflict — Complete already replaces " +
                "the whole table each epoch")
            val mode =
              if (doOverwrite) EpochMode.Replace
              else if (upsertOpt) EpochMode.Upsert
              else EpochMode.Append
            new LogStreamingWrite(path, info.schema(), key, info.queryId(),
              mode)
          }

          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = {
                val key = optKey
                  .orElse(LogTable.tableKeyCol(path))
                  .getOrElse(throw new IllegalArgumentException(
                    "graft-log write: the table predates the key-column " +
                      "property — pass .option(\"keyCol\", <column>) once; " +
                      "the commit records it from then on"))
                val aligned = LogTableTable.alignForInsert(data, path)
                if (LogTable.version(path) == 0L)
                  try LogTable.create(data.sparkSession, path, aligned, key)
                  catch {
                    // lost the bootstrap race: the table now exists, so
                    // this batch lands as the write it would have been
                    case _: graft.io.TableAlreadyExistsException =>
                      if (doOverwrite || overwrite)
                        LogTable.overwriteAll(data.sparkSession, path, aligned, key)
                      else LogTable.append(data.sparkSession, path, aligned, key)
                  }
                // truncate() on the builder (the DSv2 verb) or the V1
                // flag both mean replace-all — one versioned commit
                else if (doOverwrite || overwrite)
                  LogTable.overwriteAll(data.sparkSession, path, aligned, key)
                else LogTable.append(data.sparkSession, path, aligned, key)
              }
            }
        }
    }
    if (upsertOpt)
      new LogWriteBuilder
        with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend
    else new LogWriteBuilder
  }
}

object LogTableTable {
  /** Metadata column name: the data file a row lives in (Iceberg's
    * `_file` convention). */
  private[v2] val FileCol = "_file"

  /** THE `_file`-is-metadata predicate, shared by the table, both scan
    * paths, and partition creation so batch and streaming can never
    * disagree: `_file` in a projection is the metadata column iff no
    * data column claims the name (case-insensitive — the data column
    * wins on conflict and the metadata column hides entirely). */
  private[v2] def fileColIsMeta(
      required: org.apache.spark.sql.types.StructType,
      tableSchema: org.apache.spark.sql.types.StructType): Boolean =
    required.fieldNames.contains(FileCol) &&
      !tableSchema.fieldNames.exists(_.equalsIgnoreCase(FileCol))

  /** V1 Filter → row-level Column, for exact DELETE execution. None on
    * shapes outside the flat warehouse surface (the caller then rejects
    * the whole delete — exactness over partiality). */
  /** Integral filter value → Long, for the key-list DV delete fast
    * path (key columns are integral by the table contract). */
  private[v2] def integralLong(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l)
    case i: java.lang.Integer => Some(i.toLong)
    case s: java.lang.Short => Some(s.toLong)
    case b: java.lang.Byte => Some(b.toLong)
    case _ => None
  }

  private[v2] def filterToColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) => for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a && b
      case Or(l, r) => for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a || b
      case Not(c) => filterToColumn(c).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  /** Resolve an incoming write batch against the table's committed
    * schema. ACCEPT_ANY_SCHEMA (required for evolution) also disables
    * Spark's own output resolution, so a SQL `INSERT INTO ... SELECT`
    * arrives with the SELECT's expression names — which name-based
    * append would treat as brand-new columns instead of an insert.
    *
    * SQL positional INSERTs never reach this resolution ambiguous:
    * [[org.apache.spark.sql.catalyst.analysis.GraftRowLevelAlignment]]
    * projects them onto the table's columns at ANALYSIS (rename + ANSI
    * cast, the ResolveOutputRelation byPosition behavior
    * ACCEPT_ANY_SCHEMA skips), so a SQL batch arrives with the table's
    * own names. What remains here is the DataFrame contract:
    *   - ANY name overlap with the table (case-insensitive) → BY NAME,
    *     as-is. Matched names land by name, batch columns the table
    *     lacks evolve the schema, table columns the batch lacks
    *     NULL-fill — the same mixed-union semantics
    *     [[graft.io.LogTable.append]] itself implements (its
    *     requireCompatible still rejects type drift loudly), so the
    *     DSv2 and direct-API paths cannot disagree about what a batch
    *     means;
    *   - zero name overlap → loud error. A DataFrame write sharing NO
    *     names with the table is a misdirected write, and positionally
    *     scattering its values (the pre-r13 fallback) is exactly the
    *     silent corruption this rule exists to refuse. */
  private[v2] def alignForInsert(
      data: org.apache.spark.sql.DataFrame, path: String)
      : org.apache.spark.sql.DataFrame = {
    val tbl = LogTableProvider.schemaOf(path, None)
    if (tbl.isEmpty) return data // bootstrap: the batch defines the schema
    val tblLower = tbl.fieldNames.map(_.toLowerCase).toSet
    val inLower = data.schema.fieldNames.map(_.toLowerCase).toSet
    if (inLower.intersect(tblLower).isEmpty)
      throw new IllegalArgumentException(
        s"graft-log write to $path: batch columns " +
          s"[${data.schema.fieldNames.mkString(", ")}] share no names with " +
          s"table columns [${tbl.fieldNames.mkString(", ")}] — a by-name " +
          "write needs at least one matching name (SQL INSERT resolves " +
          "positionally at analysis; the DataFrame API is by-name only)")
    // Canonicalize CASE onto the table's spelling: this guard matches
    // case-insensitively (the Spark default resolution users write
    // against), but append's own union/evolution merge is exact-case —
    // passing 'Status' through against a 'status' table would silently
    // EVOLVE a duplicate column and NULL-fill the real one, the exact
    // misdirected-write corruption this gate exists to refuse. A batch
    // whose own columns collide case-insensitively cannot be mapped and
    // refuses loudly instead.
    val canon = tbl.fieldNames.map(n => n.toLowerCase -> n).toMap
    val batchLower = data.schema.fieldNames.map(_.toLowerCase)
    require(batchLower.distinct.length == batchLower.length,
      s"graft-log write to $path: batch columns " +
        s"[${data.schema.fieldNames.mkString(", ")}] collide " +
        "case-insensitively — rename them before the write")
    // by-name whenever any name matches: subset NULL-fills, superset
    // evolves, mixed does both — append's own union/validation logic is
    // the single authority on what the batch means
    if (data.schema.fieldNames.forall(n => canon.get(n.toLowerCase).forall(_ == n)))
      data
    else data.select(data.schema.fieldNames.toIndexedSeq.map(n =>
      org.apache.spark.sql.functions.col(s"`$n`")
        .as(canon.getOrElse(n.toLowerCase, n))): _*)
  }
}

/** Driver-side pruning observability (the PagedOrders.PageClient.fetched
  * pattern): how many live files the last planned scan kept vs saw —
  * spec/bench evidence that pushdown reached the manifest, never control
  * flow. */
object LogTableScan {
  val lastPlannedFiles = new java.util.concurrent.atomic.AtomicInteger(0)
  val lastTotalFiles = new java.util.concurrent.atomic.AtomicInteger(0)
}

class LogTableScanBuilder(
    path: String, tableSchema: StructType, asOf: Option[Long],
    startingVersion: Long = 0L, skipChangeCommits: Boolean = false,
    maxVersionsPerTrigger: Option[Long] = None,
    cdf: Boolean = false,
    // row-level operations pin ONE snapshot across their search scan and
    // group-replacement write; plain reads pin per scan build. The
    // VERSION rides along with the file set: folding DVs at a fresh
    // version(path) read against an older pinned file set would let a
    // racer's vector commit skew the scan (e.g. a concurrent compact
    // dropping a vector mid-plan serves vector-dead rows).
    pinnedSnapshot: Option[Seq[LogTable.FileEntry]] = None,
    pinnedVersion: Option[Long] = None,
    onPlanned: Seq[LogTable.FileEntry] => Unit = _ => ())
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  import LogTable.{DblBound, LongBound, StatBound, StrBound}

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  // Column mapping (renamed tables): logical → physical from the table
  // schema's rename metadata — empty on never-renamed tables, where
  // every path below is byte-identical to the unmapped build. Files and
  // manifest stats ALWAYS carry physical names, so (a) stats admission
  // and aggregate answers look up physical keys, and (b) the
  // partition-facing projection renames required fields to physical —
  // the reader resolves parquet columns by name, and positions/types
  // match `required` exactly, so rows need no remapping upstream.
  private val physByLogical: Map[String, String] =
    LogTable.mappingOf(Some(tableSchema))
  private def physName(c: String): String = physByLogical.getOrElse(c, c)
  private def requiredPhysJson: String =
    if (physByLogical.isEmpty) required.json
    else StructType(required.fields.map(f =>
      f.copy(name = physName(f.name)))).json
  // per-column intersected admission window, in manifest encoding.
  // Ranges/equalities intersect here (strictly tighter than independent
  // per-filter checks: `a >= 5 AND a <= 1` intersects to an empty
  // window that prunes a [0,10] file both independent checks admit)
  private val bounds = scala.collection.mutable.Map.empty[String, StatBound]
  // everything else pushes as CNF: each accepted filter contributes ONE
  // clause (a disjunction of file-level checks); a file admits when
  // every clause has some admitting check. IN = clause of point
  // windows, IS [NOT] NULL = single null-count check, OR = the union of
  // its sides' checks (all leaves must encode or the whole filter stays
  // row-level — a partial clause would wrongly prune)
  private val clauses = scala.collection.mutable.ListBuffer.empty[Seq[FileCheck]]
  /** IN-lists longer than this stay row-level: admission cost is
    * files × points, and a huge IN prunes little anyway. */
  private val MaxInValues = 64

  /** Filter value → manifest-encoded bound coordinate, by the SAME
    * encodings [[LogTable.writeData]] commits: timestamps as epoch
    * micros (both the java.sql and java.time object models — Spark
    * passes either depending on spark.sql.datetime.java8API.enabled),
    * dates as epoch days, integrals as longs. */
  private def encLong(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l)
    case i: java.lang.Integer => Some(i.toLong)
    case s: java.lang.Short => Some(s.toLong)
    case b: java.lang.Byte => Some(b.toLong)
    case ts: java.sql.Timestamp =>
      Some(ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000L)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    // TimestampNTZ predicates arrive as LocalDateTime; NTZ micros are
    // zone-free, so the UTC projection IS the stored encoding
    case dt: java.time.LocalDateTime =>
      val i = dt.toInstant(java.time.ZoneOffset.UTC)
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case _ => None
  }

  /** NaN predicates must NOT reach the stats window: Spark's comparison
    * semantics match NaN rows (NaN = NaN is true, NaN sorts greatest)
    * but parquet footer min/max EXCLUDE NaN, so a file holding NaN rows
    * carries safe-looking bounds that every NaN comparison fails —
    * admitting nothing and silently emptying the result. Returning None
    * keeps NaN filters row-level-only, per the admit-conservatively
    * contract. */
  private def encDbl(v: Any): Option[Double] = v match {
    case d: java.lang.Double => if (d.isNaN) None else Some(d)
    case f: java.lang.Float => if (f.isNaN) None else Some(f.toDouble)
    case _ => None
  }

  /** One-sided windows per comparison; strict bounds widen to inclusive
    * (file admission is conservative — Spark re-applies the exact
    * predicate row-level). */
  private def boundFor(v: Any, isLower: Boolean, isUpper: Boolean): Option[StatBound] =
    encLong(v).map(l => LongBound(
      if (isLower) l else Long.MinValue, if (isUpper) l else Long.MaxValue))
      .orElse(encDbl(v).map(d => DblBound(
        if (isLower) d else Double.NegativeInfinity,
        if (isUpper) d else Double.PositiveInfinity)))
      .orElse(v match {
        case s: String =>
          // "￿" as +inf: manifest string bounds are ASCII, so any
          // stat min compares below it
          Some(StrBound(if (isLower) s else "", if (isUpper) s else "￿"))
        case _ => None
      })

  private def intersect(a: StatBound, b: StatBound): Option[StatBound] = (a, b) match {
    case (LongBound(l1, h1), LongBound(l2, h2)) =>
      Some(LongBound(math.max(l1, l2), math.min(h1, h2)))
    case (DblBound(l1, h1), DblBound(l2, h2)) =>
      Some(DblBound(math.max(l1, l2), math.min(h1, h2)))
    case (StrBound(l1, h1), StrBound(l2, h2)) =>
      Some(StrBound(if (l1.compareTo(l2) >= 0) l1 else l2,
        if (h1.compareTo(h2) <= 0) h1 else h2))
    case _ => None // mixed encodings on one column: keep the first, stay conservative
  }

  /** One leaf filter as the disjuncts it contributes to a clause: None
    * when any part fails to encode (the whole filter then stays
    * row-level — conservative by construction). */
  private def leafChecks(f: Filter): Option[Seq[FileCheck]] = f match {
    case EqualTo(c, v) =>
      boundFor(v, isLower = true, isUpper = true).map(b => Seq(BoundCheck(c, b)))
    case GreaterThan(c, v) =>
      boundFor(v, isLower = true, isUpper = false).map(b => Seq(BoundCheck(c, b)))
    case GreaterThanOrEqual(c, v) =>
      boundFor(v, isLower = true, isUpper = false).map(b => Seq(BoundCheck(c, b)))
    case LessThan(c, v) =>
      boundFor(v, isLower = false, isUpper = true).map(b => Seq(BoundCheck(c, b)))
    case LessThanOrEqual(c, v) =>
      boundFor(v, isLower = false, isUpper = true).map(b => Seq(BoundCheck(c, b)))
    // IN → union of point windows (the reference pushes `status IN
    // ('processing','completed')` to its source, orders.py:11-18). ALL
    // values must encode: a null/NaN/foreign-typed member makes the
    // whole list row-level — admitting on a partial union would wrongly
    // prune files holding the unencodable member's rows.
    case In(c, vs) if vs.nonEmpty && vs.length <= MaxInValues =>
      val points = vs.toSeq.map(v =>
        if (v == null) None
        else boundFor(v, isLower = true, isUpper = true).map(BoundCheck(c, _)))
      if (points.forall(_.isDefined)) Some(points.map(_.get)) else None
    // null-count stats (colsN): IS NULL needs a null in the file,
    // IS NOT NULL a non-null row — zero footer reads either way
    case IsNull(c) => Some(Seq(NullCheck(c, wantNull = true)))
    case IsNotNull(c) => Some(Seq(NullCheck(c, wantNull = false)))
    // OR = union of both sides' disjuncts; nested ORs flatten through
    // the recursion
    case Or(l, r) =>
      for (a <- leafChecks(l); b <- leafChecks(r)) yield a ++ b
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = filters.filter {
      // bare comparisons intersect into the per-column window (tighter
      // than clause admission, see `bounds`)
      case EqualTo(c, v) => record(c, boundFor(v, isLower = true, isUpper = true))
      case GreaterThan(c, v) => record(c, boundFor(v, isLower = true, isUpper = false))
      case GreaterThanOrEqual(c, v) => record(c, boundFor(v, isLower = true, isUpper = false))
      case LessThan(c, v) => record(c, boundFor(v, isLower = false, isUpper = true))
      case LessThanOrEqual(c, v) => record(c, boundFor(v, isLower = false, isUpper = true))
      case other => leafChecks(other) match {
        case Some(cl) => clauses += cl; true
        case None => false // unencodable shape: row-level only
      }
    }
    pushed = accepted
    // File skipping is whole-file and inclusive-widened — Spark must
    // re-apply every predicate row-level, so ALL filters stay residual.
    filters
  }

  private def record(column: String, b: Option[StatBound]): Boolean = b match {
    case Some(nb) =>
      bounds(column) = bounds.get(column).flatMap(intersect(_, nb)).getOrElse(nb)
      true
    case None => false
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Manifest-stats admission for one file: the intersected per-column
    * windows AND every CNF clause (some disjunct admits). Stat-less
    * columns admit (conservative). Also serves [[LogTableTable]]'s
    * deleteWhere (same pushed-filter machinery decides which files a
    * DELETE may touch). */
  private[v2] def fileAdmitted(f: LogTable.FileEntry): Boolean =
    bounds.forall { case (c, b) => LogTable.admits(f, physName(c), b) } &&
      clauses.forall(_.exists {
        case BoundCheck(c, b) => LogTable.admits(f, physName(c), b)
        case NullCheck(c, wantNull) =>
          LogTable.admitsNull(f, physName(c), wantNull)
      })

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // snapshot pinned ONCE per scan build, shared by aggregate
  // answerability and the scan itself: both must describe the same
  // version even if writers land mid-planning
  private lazy val pinnedFull: (Long, Seq[LogTable.FileEntry]) =
    pinnedSnapshot.map { fs =>
      // the caller's pin version, NOT a fresh version(path) read — the
      // DV fold below must describe exactly the pinned file set
      (pinnedVersion.getOrElse(LogTable.version(path)), fs)
    }.getOrElse {
      val (v, fs, _) = LogTable.snapshotWithSchema(path, asOf)
      (v, fs)
    }
  private lazy val pinned: Seq[LogTable.FileEntry] = pinnedFull._2
  // deletion vectors pinned at the SAME version as the file snapshot (a
  // racing DV commit must not leak newer deletes into an older file set)
  private lazy val dvsLive: Map[String, Seq[Long]] =
    LogTable.liveDvs(path, Some(asOf.getOrElse(pinnedFull._1)))
  // positional (bitmap) vectors, same pin: file → sidecar names; the
  // scan plans PATHS only, tasks load bitmaps lazily
  private lazy val dvpLive: Map[String, Seq[String]] =
    LogTable.livePosDvs(path, Some(asOf.getOrElse(pinnedFull._1)))
  private def dvPosPathsOf(names: Seq[String]): Seq[String] =
    names.map(n => LogTable.dvDir(path).resolve(n).toString)
  // the DV key column under its PHYSICAL name (what the files carry) —
  // resolved lazily and only when vectors exist
  private lazy val dvPhysKey: String = {
    val logical = LogTable.tableKeyCol(path).getOrElse(
      throw new IllegalStateException(
        s"graft-log scan on $path: deletion vectors present but no " +
          "key-column property"))
    physName(logical)
  }
  private def dvFor(f: LogTable.FileEntry): (String, Seq[Long]) =
    dvsLive.get(f.file) match {
      case Some(ks) if ks.nonEmpty => (dvPhysKey, ks)
      case _ => ("", Seq.empty)
    }

  // ---- aggregate pushdown: COUNT/MIN/MAX answered from the manifest --
  //
  // The manifest already carries exact per-file row counts, typed
  // [min,max] column stats, and null counts — so an unfiltered
  // `SELECT count(*), min(k), max(ts) FROM log_table` is pure stats
  // arithmetic: ZERO data files planned, zero footer reads, constant
  // work however many petabytes the snapshot spans (the same zero-scan
  // answer Delta/Iceberg serve from their own metadata). Answerability
  // is strict — every aggregate must be exactly decidable or the whole
  // aggregation stays on the scan:
  //   - count(*): always (row counts are exact, live files only);
  //   - count(c) non-distinct: every live file must carry a null count
  //     for c (rows - nulls; files from pre-stats writers refuse);
  //   - min/max over long-encoded columns (integrals, DATE days,
  //     TIMESTAMP/NTZ micros): every live file must carry cols bounds —
  //     footer bounds are exact non-null extremes, merged with min/max;
  //     an all-null or stat-less file has no entry and refuses;
  //   - min over double/float: same, from colsD. MAX over floating
  //     columns is REFUSED: footer bounds EXCLUDE NaN while NaN sorts
  //     GREATEST in Spark, so a NaN-holding file answers a finite max
  //     where the scan answers NaN. MIN is unaffected by that ordering
  //     (-0.0 normalizes to 0.0, matching Spark's UnsafeRow floats);
  //   - string min/max is REFUSED: manifest string bounds are
  //     truncated/widened admission windows, not exact values;
  //   - any pushed filter, group-by, distinct, or other function
  //     refuses (Spark only offers aggregates when no filter survives,
  //     and this source keeps every filter residual — the guard is
  //     defense in depth).
  private var aggPushed: Option[Seq[(StructField, Any)]] = None

  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{
    AggregateFunc, Aggregation, Count, CountStar, Max, Min}

  private def aggColumn(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        tableSchema.fields.find(_.name == nr.fieldNames()(0))
      case _ => None
    }

  private def decodeLongStat(dt: DataType, v: Long): Any = dt match {
    case LongType | TimestampType | TimestampNTZType => v
    case IntegerType => v.toInt
    case ShortType => v.toShort
    case DateType => v.toInt
    case other => throw new IllegalStateException(
      s"graft-log aggregate pushdown: unexpected long-stat type $other")
  }

  /** Exact MIN/MAX from per-file stats, or None when any live file
    * cannot answer. Some(null) is the SQL aggregate over zero rows. */
  private def minMaxFromStats(f: StructField, isMin: Boolean): Option[Any] = {
    def all[B](get: LogTable.FileEntry => Option[B]): Option[Seq[B]] = {
      val bs = pinned.map(get)
      if (bs.forall(_.isDefined)) Some(bs.map(_.get)) else None
    }
    f.dataType match {
      case LongType | IntegerType | ShortType | DateType |
           TimestampType | TimestampNTZType =>
        all(_.cols.get(physName(f.name))).map { bs =>
          if (bs.isEmpty) null
          else decodeLongStat(f.dataType,
            if (isMin) bs.map(_._1).min else bs.map(_._2).max)
        }
      case DoubleType if isMin =>
        all(_.colsD.get(physName(f.name))).map { bs =>
          if (bs.isEmpty) null else (bs.map(_._1).min + 0.0d): java.lang.Double
        }
      case FloatType if isMin =>
        all(_.colsD.get(physName(f.name))).map { bs =>
          if (bs.isEmpty) null
          else (bs.map(_._1).min.toFloat + 0.0f): java.lang.Float
        }
      case _ => None
    }
  }

  private def aggAnswer(fn: AggregateFunc): Option[(StructField, Any)] = fn match {
    case _: CountStar =>
      Some(StructField("count(*)", LongType, nullable = false) ->
        pinned.map(_.rows).sum)
    case c: Count if !c.isDistinct =>
      aggColumn(c.column).flatMap { f =>
        val ns = pinned.map(_.colsN.get(physName(f.name)))
        if (ns.forall(_.isDefined))
          Some(StructField(s"count(${f.name})", LongType, nullable = false) ->
            (pinned.map(_.rows).sum - ns.flatMap(_.toSeq).sum))
        else None
      }
    case m: Min =>
      aggColumn(m.column).flatMap(f => minMaxFromStats(f, isMin = true)
        .map(v => StructField(s"min(${f.name})", f.dataType, nullable = true) -> v))
    case m: Max =>
      aggColumn(m.column).flatMap(f => minMaxFromStats(f, isMin = false)
        .map(v => StructField(s"max(${f.name})", f.dataType, nullable = true) -> v))
    case _ => None
  }

  private def answersFor(aggregation: Aggregation): Option[Seq[(StructField, Any)]] =
    // deletion vectors: manifest row counts and bounds describe the
    // FILES, vectors kill rows under them — stats can no longer answer
    // exactly, so the whole aggregation stays on the (vector-filtering)
    // scan until compact() purges
    if (cdf || aggregation.groupByExpressions.nonEmpty ||
        pushed.nonEmpty || bounds.nonEmpty || clauses.nonEmpty ||
        dvsLive.nonEmpty || dvpLive.nonEmpty) None
    else {
      val as = aggregation.aggregateExpressions.toSeq.map(aggAnswer)
      if (as.nonEmpty && as.forall(_.isDefined)) Some(as.map(_.get)) else None
    }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    answersFor(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean =
    answersFor(aggregation) match {
      case Some(fs) => aggPushed = Some(fs); true
      case None => false
    }

  override def build(): Scan = new Scan with Batch with SupportsReportStatistics
      with SupportsRuntimeV2Filtering {
    // snapshot pinned ONCE at scan build: planning and statistics must
    // describe the same version even if writers land mid-query
    private val snapshot = pinned
    // minKey/maxKey are the key column's stats whatever its name — cols
    // usually duplicates them, but a reserved-name key column only has
    // the anonymous slots (admits handles both)
    // var: runtime filtering below may SHRINK the set after build —
    // driver-side only, volatile against planning/commit thread handoff
    @volatile private var kept = snapshot.filter(fileAdmitted)
    onPlanned(kept)

    // `_file` in the projection is the metadata column iff no data
    // column claims the name (the table hides the metadata column on
    // conflict, so a required `_file` then refers to real data)
    private def fileColIsMeta: Boolean =
      LogTableTable.fileColIsMeta(required, tableSchema)

    /** Runtime group filtering (the scale path for MERGE/UPDATE row-level
      * rewrites): Spark evaluates a subquery for the DISTINCT `_file`
      * values of rows matching the operation's condition and hands the
      * result back as an IN predicate here — files not in the set leave
      * the scan, the replacement write's remove set shrinks with them
      * (onPlanned re-fires), and a selective MERGE rewrites only the
      * files that actually hold matched keys. Unparseable predicate
      * shapes are ignored: runtime filters are an optimization, and
      * over-admitting is always correct.
      *
      * Advertised ONLY when the projection actually carries the
      * metadata `_file` (row-level scans always do — the operation's
      * requiredMetadataAttributes forces it): a plain scan without it
      * must read as non-runtime-filterable, or the generic DPP probe
      * would try to resolve `_file` against an output that lacks it. */
    override def filterAttributes(): Array[
        org.apache.spark.sql.connector.expressions.NamedReference] =
      if (fileColIsMeta)
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .column(LogTableTable.FileCol))
      else Array.empty

    override def filter(predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
      import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
      def refIsFile(e: org.apache.spark.sql.connector.expressions.Expression) =
        e match {
          case r: NamedReference =>
            r.fieldNames.length == 1 && r.fieldNames()(0) == LogTableTable.FileCol
          case _ => false
        }
      def litStr(e: org.apache.spark.sql.connector.expressions.Expression) =
        e match {
          case l: V2Literal[_] if l.value != null => Some(l.value.toString)
          case _ => None
        }
      predicates.foreach { p =>
        val allowed: Option[Set[String]] = p.name() match {
          case "IN" if p.children().nonEmpty && refIsFile(p.children()(0)) =>
            val vs = p.children().drop(1).map(litStr)
            if (vs.forall(_.isDefined)) Some(vs.flatten.toSet) else None
          case "=" if p.children().length == 2 && refIsFile(p.children()(0)) =>
            litStr(p.children()(1)).map(Set(_))
          case _ => None
        }
        allowed.foreach { names =>
          kept = kept.filter(f => names(f.file))
          onPlanned(kept)
        }
      }
    }

    override def readSchema(): StructType =
      aggPushed.map(fs => StructType(fs.map(_._1))).getOrElse(required)
    override def toBatch: Batch = this

    override def estimateStatistics(): Statistics = new Statistics {
      // vector-dead rows leave the estimate (a dv key that misses its
      // file only makes this conservative — stats are estimates)
      private val rows = aggPushed.fold(
        kept.map(f => math.max(0L,
          f.rows - dvsLive.get(f.file).map(_.size.toLong).getOrElse(0L))).sum
      )(_ => 1L)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * math.max(1L, readSchema().defaultSize.toLong))
    }

    override def description(): String =
      s"GraftLogScan($path, files=${kept.size}/${snapshot.size}, " +
        s"pushed=${pushed.mkString(",")}, columns=${required.fieldNames.mkString(",")}" +
        aggPushed.fold("")(fs =>
          s", agg=${fs.map(_._1.name).mkString("[", ",", "]")}") + ")"

    override def planInputPartitions(): Array[InputPartition] = {
      if (cdf) {
        // batch change feed over (startingVersion, asOf|head]: same
        // exclusive lower bound as the streaming offset, so a stream
        // checkpointed at v resumes exactly where a batch read to v ends
        val toV = asOf.getOrElse(LogTable.version(path))
        return cdfPartitions(startingVersion, toV)
      }
      aggPushed match {
        case Some(fs) =>
          // completely-pushed aggregation: ONE pre-computed stats row,
          // zero data files planned — the manifest was the whole read
          LogTableScan.lastTotalFiles.set(snapshot.size)
          LogTableScan.lastPlannedFiles.set(0)
          Array(LogStatsPartition(fs.map(_._2)): InputPartition)
        case None =>
          LogTableScan.lastTotalFiles.set(snapshot.size)
          LogTableScan.lastPlannedFiles.set(kept.size)
          kept.map { f =>
            val (dk, dks) = dvFor(f)
            LogFilePartition(
              LogTable.dataDir(path).resolve(f.file).toString,
              requiredPhysJson, fileColIsMeta,
              dvKeyCol = dk, dvKeys = dks,
              dvPosFiles = dvPosPathsOf(
                dvpLive.getOrElse(f.file, Seq.empty))): InputPartition
          }.toArray
      }
    }

    /** Retraction-feed planning shared by the batch and streaming change
      * feeds: versions in (fromV, toV], ascending, each commit serving
      * its REMOVED files' rows as `delete` images and its ADDED files'
      * rows as `insert` images. This is the classic retraction changelog
      * (coarser than [[LogTable.changes]]' keyed image diff — a rewrite
      * re-emits its file's unchanged rows as delete+insert pairs, which
      * cancel under multiset apply), and it is the shape that scales:
      * ZERO joins, file-granular tasks, plans from manifests alone.
      * Consumers order by (_commit_version, _change_type) per key;
      * checkpoint manifests re-list history and carry no change — they
      * are skipped. Removed files are history-referenced, so vacuum
      * retains them; a feed window below a truncateHistory cut fails at
      * read time (file gone), same retention trade as the published
      * formats' CDF. Stats pruning applies to ADD files only (removes
      * carry no stats — conservatively served; every pushed filter is
      * residual, so Spark's row-level re-apply keeps the returned rows
      * exact either way). */
    private def cdfPartitions(fromV: Long, toV: Long): Array[InputPartition] = {
      val all = LogTable.manifestRange(path, fromV, toV).sortBy(_.version)
      // history-truncation guard: a checkpoint CONSOLIDATES the deltas
      // below it — a feed window that needs any of them can only be
      // served incompletely, and silent incompleteness is data loss to
      // a downstream incremental view. Two loud cases: the window's
      // first commits were dropped entirely (gap below the earliest
      // surviving manifest), or the window includes the checkpoint
      // itself (its own per-commit delta no longer exists). Delta's
      // streaming source fails the same way when an offset falls below
      // the retention cut.
      if (toV > fromV) {
        val firstAvailable = all.headOption.map(_.version).getOrElse(Long.MaxValue)
        if (firstAvailable > fromV + 1) throw new IllegalStateException(
          s"graft-log change feed on $path: versions ${fromV + 1}..${
            math.min(toV, firstAvailable - 1)} were dropped by history " +
            "truncation — the feed cannot be served completely. Re-base on " +
            s"a snapshot read at or after v${firstAvailable} and start the " +
            "feed there")
        all.find(_.checkpoint).foreach { c =>
          throw new IllegalStateException(
            s"graft-log change feed on $path: the window ($fromV, $toV] " +
              s"crosses the truncation checkpoint v${c.version}, whose " +
              "per-commit deltas were consolidated — re-base on a snapshot " +
              s"read at v${c.version} and start the feed there " +
              s"(startingVersion=${c.version})")
        }
      }
      val ms = all.filterNot(_.checkpoint)
      // DELETION VECTORS are part of the feed, exactly: the walk below
      // threads the ACCUMULATED per-file vector state through the window
      // (seeded from the log BELOW fromV — a vector committed before the
      // window makes its rows dead for every image the window emits), so
      //   - a REMOVED file retracts only its rows live at removal (not
      //     rows an earlier vector already retracted — the spurious
      //     double-delete a state-blind walk emits);
      //   - an ADDED file inserts only its live rows (a restore re-adds
      //     files together with their vectors in one manifest — those
      //     dead rows were never inserted and must not be now);
      //   - a vector commit emits its NET-NEW dead rows as delete images
      //     (read from the vectored file in INVERSE mode), net of keys
      //     already dead there — re-marking an already-dead key (a
      //     second upsertDV of the same key covers every file in range)
      //     emits nothing from files where the first kill stands.
      // Multiset apply stays exact: per key and version, delete images
      // precede insert images under the documented
      // (_commit_version, _change_type) ordering.
      val dvState = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.LinkedHashSet[Long]]
      LogTable.liveDvs(path, Some(fromV)).foreach { case (f, ks) =>
        dvState(f) = scala.collection.mutable.LinkedHashSet(ks: _*)
      }
      // POSITIONAL vector state threads identically: accumulated sidecar
      // names per file. Net-new exactness is the reader's job here (the
      // bitmaps live off-driver): an inverse partition carries the NEW
      // sidecars plus the prior (key set, sidecar set) as EXCLUDES —
      // emit rows dead by the new vectors and not already dead by any
      // prior mechanism.
      val posState = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.LinkedHashSet[String]]
      LogTable.livePosDvs(path, Some(fromV)).foreach { case (f, ss) =>
        posState(f) = scala.collection.mutable.LinkedHashSet(ss: _*)
      }
      def posPathsOf(f: String): Seq[String] =
        posState.get(f).fold(Seq.empty[String])(s => dvPosPathsOf(s.toSeq))
      val parts = ms.flatMap { m =>
        // fileColIsMeta rides through exactly as in batch/stream scans: a
        // feed read that projects the _file metadata column must serve
        // the file name, not NULLs (a hardcoded false here did the latter).
        val dels = m.removes.map { f =>
          val deadBefore = dvState.remove(f).fold(Seq.empty[Long])(_.toSeq)
          val posBefore = posState.remove(f)
            .fold(Seq.empty[String])(s => dvPosPathsOf(s.toSeq))
          LogFilePartition(
            LogTable.dataDir(path).resolve(f).toString, requiredPhysJson,
            fileColIsMeta,
            changeType = Some("delete"), commitVersion = Some(m.version),
            dvKeyCol = if (deadBefore.isEmpty) "" else dvPhysKey,
            dvKeys = deadBefore,
            dvPosFiles = posBefore)
        }
        val addedNow = m.adds.map(_.file).toSet
        // vector DELTAS first (state update rides the maps): net-new dead
        // rows per still-live, not-added-now file become delete images
        val dvDels = m.dvs.toSeq.flatMap { case (f, ks) =>
          val acc = dvState.getOrElseUpdate(f,
            scala.collection.mutable.LinkedHashSet.empty)
          val netNew = ks.filterNot(acc)
          acc ++= ks
          if (netNew.isEmpty || addedNow.contains(f)) None
          else Some(LogFilePartition(
            LogTable.dataDir(path).resolve(f).toString, requiredPhysJson,
            fileColIsMeta,
            changeType = Some("delete"), commitVersion = Some(m.version),
            dvKeyCol = dvPhysKey, dvKeys = netNew, dvInverse = true,
            // a key-killed row that was ALREADY positionally dead must
            // not re-emit — exclude the prior position state
            dvPosExclude = posPathsOf(f)))
        }
        val posDels = m.dvp.toSeq.flatMap { case (f, ss) =>
          val acc = posState.getOrElseUpdate(f,
            scala.collection.mutable.LinkedHashSet.empty)
          val priorPos = dvPosPathsOf(acc.toSeq)
          val netNew = ss.filterNot(acc)
          acc ++= ss
          val priorKeys = dvState.get(f).fold(Seq.empty[Long])(_.toSeq)
          if (netNew.isEmpty || addedNow.contains(f)) None
          else Some(LogFilePartition(
            LogTable.dataDir(path).resolve(f).toString, requiredPhysJson,
            fileColIsMeta,
            changeType = Some("delete"), commitVersion = Some(m.version),
            dvKeyCol = if (priorKeys.isEmpty) "" else dvPhysKey,
            dvInverse = true,
            dvPosFiles = dvPosPathsOf(netNew),
            // already-dead rows (earlier sidecars OR key vectors) are
            // prior state, not this commit's delta
            dvPosExclude = priorPos,
            dvKeysExclude = priorKeys))
        }
        val adds = m.adds.filter(fileAdmitted).map { f =>
          val deadNow = dvState.get(f.file).fold(Seq.empty[Long])(_.toSeq)
          LogFilePartition(
            LogTable.dataDir(path).resolve(f.file).toString, requiredPhysJson,
            fileColIsMeta,
            changeType = Some("insert"), commitVersion = Some(m.version),
            dvKeyCol = if (deadNow.isEmpty) "" else dvPhysKey,
            dvKeys = deadNow,
            dvPosFiles = posPathsOf(f.file))
        }
        dels ++ dvDels ++ posDels ++ adds
      }
      LogTableScan.lastTotalFiles.set(ms.map(m => m.adds.size + m.removes.size).sum)
      LogTableScan.lastPlannedFiles.set(parts.size)
      parts.toArray
    }

    override def createReaderFactory(): PartitionReaderFactory =
      new LogFileReaderFactory

    /** Streaming tail of the commit log: each micro-batch is a version
      * range (fromV, toV], planned as the data files those commits
      * ADDED — the append-only ingest shape
      * ([[graft.streaming.DocStream]]'s state tables) served with
      * exactly-once replay: manifests are immutable once claimed, so an
      * offset range replans identically on recovery, and a crash between
      * ranges re-reads nothing.
      *
      * Commits that REMOVE files (upserts/deletes/compactions) have no
      * row-level streaming image without retraction support — the
      * default fails LOUDLY (a silent skip would drop acknowledged
      * rows); `.option("skipChangeCommits", true)` opts into ignoring
      * them (the Delta streaming trade, same knob name). Filter pushdown
      * and column pruning apply per micro-batch exactly as in batch
      * scans — a watermark predicate skips added files from the
      * manifest. */
    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
      new org.apache.spark.sql.connector.read.streaming.MicroBatchStream
        with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
        import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

        // Trigger.AvailableNow (SupportsTriggerAvailableNow): Spark
        // calls prepareForTriggerAvailableNow() once at query start; the
        // head version observed THERE becomes a hard cap on every
        // subsequent latestOffset answer, so the query drains exactly
        // the commits that existed when it started — rate control still
        // paces the drain into capped micro-batches — and then stops on
        // its own. This is the nightly-incremental idiom at scale
        // (process everything since the checkpoint, exactly-once, exit;
        // the reference's scheduled `run.py` sync is this shape):
        // commits landing mid-drain wait for the next scheduled run,
        // and a restart mid-drain replays identically because offsets,
        // not the cap, are checkpointed.
        @volatile private var availableNowCap: Option[Long] = None
        override def prepareForTriggerAvailableNow(): Unit =
          availableNowCap = Some(LogTable.version(path))
        private def cappedHead: Long = {
          val head = LogTable.version(path)
          availableNowCap.fold(head)(math.min(head, _))
        }

        override def latestOffset(): Offset = LogVersionOffset(cappedHead)

        // rate control: `.option("maxVersionsPerTrigger", n)` caps each
        // micro-batch at n commits (the Delta maxFilesPerTrigger trade,
        // in this source's own admission unit — a commit is the atomic
        // replayable step). A capped batch replans identically on
        // recovery because the offset range, not the cap, is
        // checkpointed; reportLatestOffset still surfaces the true head
        // so lag is observable (also under AvailableNow, where the cap
        // hides mid-drain arrivals from planning but not from metrics).
        override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
        override def reportLatestOffset(): Offset =
          LogVersionOffset(LogTable.version(path))
        override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
          val head = cappedHead
          val from = start.asInstanceOf[LogVersionOffset].v
          LogVersionOffset(maxVersionsPerTrigger
            .fold(head)(n => math.min(head, from + math.max(1L, n))))
        }

        override def initialOffset(): Offset = LogVersionOffset(startingVersion)
        override def deserializeOffset(json: String): Offset =
          LogVersionOffset(json.trim.toLong)
        override def commit(end: Offset): Unit = ()
        override def stop(): Unit = ()

        override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
          val fromV = start.asInstanceOf[LogVersionOffset].v
          val toV = end.asInstanceOf[LogVersionOffset].v
          // change-feed stream: change commits are the PAYLOAD, not an
          // error — each micro-batch serves the version range's
          // retraction feed (delete images of removed files, insert
          // images of added ones), exactly-once by the same offset
          // replay argument as the append tail (manifests are immutable
          // once claimed, so a range replans identically on recovery)
          if (cdf) return cdfPartitions(fromV, toV)
          val ms = LogTable.manifestRange(path, fromV, toV)
          // a DELETION-VECTOR commit is a change commit too: it deletes/
          // updates rows without removing a file, so the added files
          // alone under-represent the delta exactly like a rewrite does
          val changeCommits = ms.filter(m =>
            m.removes.nonEmpty || m.checkpoint || m.dvs.nonEmpty || m.dvp.nonEmpty)
          if (changeCommits.nonEmpty && !skipChangeCommits)
            throw new IllegalStateException(
              s"graft-log stream on $path: version(s) " +
                s"${changeCommits.map(_.version).mkString(",")} rewrite, " +
                "remove, or vector-delete rows — a plain streaming read " +
                "cannot retract them. Use .option(\"readChangeFeed\", true) " +
                "to stream the retraction feed, LogTable.changes for batch " +
                "CDC, or opt into .option(\"skipChangeCommits\", true) to " +
                "ignore them")
          val added = ms.filterNot(m =>
            m.removes.nonEmpty || m.checkpoint || m.dvs.nonEmpty || m.dvp.nonEmpty)
            .flatMap(_.adds)
          val kept = added.filter(fileAdmitted)
          LogTableScan.lastTotalFiles.set(added.size)
          LogTableScan.lastPlannedFiles.set(kept.size)
          kept.map(f => LogFilePartition(
            LogTable.dataDir(path).resolve(f.file).toString,
            requiredPhysJson,
            LogTableTable.fileColIsMeta(required, tableSchema)): InputPartition)
            .toArray
        }

        override def createReaderFactory(): PartitionReaderFactory =
          new LogFileReaderFactory
      }
  }
}

/** Streaming offset = committed log version (immutable, totally
  * ordered, replayable). */
case class LogVersionOffset(v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

/** One data file, one task — the manifest's own granularity. The
  * required schema travels as StructType JSON (InputPartitions must be
  * serializable). `fileColIsMeta` marks a `_file` entry in the required
  * schema as the METADATA column (serve the file's name) rather than a
  * data column that happens to share the name (read the parquet). */
case class LogFilePartition(
    file: String, requiredJson: String,
    fileColIsMeta: Boolean = false,
    // change-feed decoration: when set, a required `_change_type` /
    // `_commit_version` field serves these per-partition constants
    changeType: Option[String] = None,
    commitVersion: Option[Long] = None,
    // deletion vector: rows of THIS file whose key (physical column
    // `dvKeyCol`) is in `dvKeys` are dead — the reader filters them.
    // Bounded (LogTable.DvMaxKeys per commit), so the per-task set is
    // kilobytes however large the table. `dvInverse` flips the filter:
    // emit ONLY the dead rows (the change feed's delete-image read for
    // a vector commit)
    dvKeyCol: String = "",
    dvKeys: Seq[Long] = Seq.empty,
    dvInverse: Boolean = false,
    // POSITIONAL vectors: sidecar PATHS whose OR is this file's dead-
    // position bitmap (loaded lazily in the task, never by the driver).
    // The exclude sets serve the change feed's NET-NEW exactness in
    // inverse mode: emit rows dead by (dvKeys ∪ dvPosFiles) and NOT
    // already dead by (dvKeysExclude ∪ dvPosExclude) at the prior
    // version. Normal (non-inverse) reads leave the excludes empty.
    dvPosFiles: Seq[String] = Seq.empty,
    dvPosExclude: Seq[String] = Seq.empty,
    dvKeysExclude: Seq[Long] = Seq.empty) extends InputPartition

/** Single pre-computed row for a completely-pushed aggregation — the
  * manifest stats ARE the result; no file task ever runs. Values are
  * Catalyst internal representations (long micros, int days, boxed
  * primitives, null for empty-table min/max). */
case class LogStatsPartition(values: Seq[Any]) extends InputPartition

class LogFileReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case LogStatsPartition(values) =>
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = { val n = !emitted; emitted = true; n }
          override def get(): InternalRow = InternalRow.fromSeq(values)
          override def close(): Unit = ()
        }
      case p: LogFilePartition => new LogFileReader(p)
    }
}

/** Parquet → InternalRow through the public parquet-mr Group API.
  *
  * The file's own footer drives physical decoding (INT96 vs INT64
  * timestamps, which required columns exist at all), so files written
  * before a schema evolution serve typed NULLs for the added columns —
  * identical semantics to [[LogTable.read]]'s manifest-schema scan. An
  * empty projection (count(*)) short-circuits to footer row counts:
  * zero data pages read. */
class LogFileReader(part: LogFilePartition) extends PartitionReader[InternalRow] {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.hadoop.example.GroupReadSupport
  import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

  private val required =
    DataType.fromJson(part.requiredJson).asInstanceOf[StructType]
  // local-mode Configuration: default fs serves absolute local paths; a
  // multi-node deployment threads the session's hadoop conf through the
  // partition instead (same shape, bigger payload). Cheap COPY of the
  // JVM-shared conf (r22): a bare `new Configuration()` re-parsed the
  // XML defaults once per TASK on every graft-log scan; the copy
  // constructor clones the materialized properties without a parse and
  // stays private to this partition (readers never share a mutable
  // conf).
  private val conf =
    new org.apache.hadoop.conf.Configuration(graft.util.Footers.sharedConf)
  private val hPath = new org.apache.hadoop.fs.Path(part.file)

  private val (fileSchema, fileRows) = {
    val r = graft.util.Footers.open(HadoopInputFile.fromPath(hPath, conf))
    try {
      var n = 0L
      r.getFooter.getBlocks.forEach(b => n += b.getRowCount)
      (r.getFooter.getFileMetaData.getSchema, n)
    } finally r.close()
  }

  // upcast: MessageType's varargs getType(String*) shadows GroupType's
  // getType(String) and makes direct calls ambiguous in Scala
  private val fileGroup: org.apache.parquet.schema.GroupType = fileSchema

  // the metadata `_file` is served from the partition, never the pages
  // (even if a foreign parquet happens to carry a column of that name)
  private def isMetaFileField(name: String): Boolean =
    part.fileColIsMeta && name == LogTableTable.FileCol
  private val metaFileValue: UTF8String =
    UTF8String.fromString(hPath.getName)

  // change-feed decoration: per-partition constants, never page data
  // (the CDF schema reserves the names, enforced at inferSchema)
  private def cdfValueOf(name: String): Option[Any] = name match {
    case LogTableProvider.ChangeTypeCol =>
      part.changeType.map(UTF8String.fromString)
    case LogTableProvider.CommitVersionCol => part.commitVersion
    case _ => None
  }

  private val presentFields =
    required.fields.filter(f =>
      !isMetaFileField(f.name) && cdfValueOf(f.name).isEmpty &&
        fileSchema.containsField(f.name))

  // deletion vectors for THIS file. KEY vectors (and key excludes, the
  // change feed's prior-dead set) need the key column decodable or the
  // dead rows cannot be told apart — loud, never served-with-dead.
  // POSITIONAL vectors need only the running row position: this reader
  // consumes the file SEQUENTIALLY in full (no row-group skipping), so a
  // counter is the exact parquet row index the writer recorded.
  private val dvKeysActive = part.dvKeys.nonEmpty || part.dvKeysExclude.nonEmpty
  private val dvPosActive = part.dvPosFiles.nonEmpty
  private val dvActive = dvKeysActive || dvPosActive
  if (dvKeysActive) require(
    part.dvKeyCol.nonEmpty && fileSchema.containsField(part.dvKeyCol),
    s"graft-log reader: file ${hPath.getName} carries a deletion vector " +
      s"but its key column '${part.dvKeyCol}' is absent from the file — " +
      "cannot separate dead rows")
  private def keySet(ks: Seq[Long]): java.util.HashSet[java.lang.Long] =
    if (ks.isEmpty) null
    else {
      val s = new java.util.HashSet[java.lang.Long](ks.size * 2)
      ks.foreach(k => s.add(k))
      s
    }
  private val dvDead = keySet(part.dvKeys)
  private val dvKeyExcl = keySet(part.dvKeysExclude)
  private def orOf(paths: Seq[String])
      : org.roaringbitmap.longlong.Roaring64Bitmap =
    if (paths.isEmpty) null
    else {
      val acc = new org.roaringbitmap.longlong.Roaring64Bitmap()
      paths.foreach { p =>
        val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
          java.nio.file.Files.newInputStream(java.nio.file.Paths.get(p))))
        try {
          val one = new org.roaringbitmap.longlong.Roaring64Bitmap()
          one.deserialize(in)
          acc.or(one)
        } finally in.close()
      }
      acc
    }
  private val posNew = orOf(part.dvPosFiles)
  private val posExcl = orOf(part.dvPosExclude)
  private val dvKeyGet: Group => Long =
    if (!dvKeysActive) null
    else {
      val kn = part.dvKeyCol
      fileGroup.getType(kn).asPrimitiveType().getPrimitiveTypeName match {
        case PrimitiveTypeName.INT64 => g => g.getLong(kn, 0)
        case PrimitiveTypeName.INT32 => g => g.getInteger(kn, 0).toLong
        case other => throw new UnsupportedOperationException(
          s"graft-log reader: deletion-vector key column '$kn' has parquet " +
            s"type $other — keys are integral by the table contract")
      }
    }

  // column projection pushed INTO parquet: only required-and-present
  // columns are materialized from the page store. A deletion vector
  // FORCES the key column into the file projection (even for count(*)
  // — the footer row count lies about live rows) without emitting it.
  private val projection: Option[org.apache.parquet.schema.MessageType] = {
    val projFields =
      if (dvKeysActive && !presentFields.exists(_.name == part.dvKeyCol))
        presentFields.map(_.name) :+ part.dvKeyCol
      else presentFields.map(_.name)
    if (projFields.isEmpty) None
    else {
      import scala.jdk.CollectionConverters._
      val fields: java.util.List[org.apache.parquet.schema.Type] =
        projFields.map(n => fileGroup.getType(n)).toList.asJava
      Some(new org.apache.parquet.schema.MessageType(fileSchema.getName, fields))
    }
  }

  private val reader: ParquetReader[Group] = projection match {
    case Some(proj) =>
      // the projection goes to the read support as a MessageType, never
      // through the string-schema conf key: MessageTypeParser cannot
      // re-read a column name carrying schema punctuation (`{`, `;`, …)
      // that the file itself stores fine
      val readSupport = new GroupReadSupport {
        override def init(context: org.apache.parquet.hadoop.api.InitContext)
            : org.apache.parquet.hadoop.api.ReadSupport.ReadContext =
          new org.apache.parquet.hadoop.api.ReadSupport.ReadContext(proj)
      }
      ParquetReader.builder(readSupport, hPath).withConf(conf).build()
    case None => null // count-style read: rows come from the footer
  }

  /** Per-required-field extractor, bound once: (group → catalyst value),
    * or null-producing for columns the file predates. */
  private val extractors: Array[Group => Any] = required.fields.map { f =>
    if (isMetaFileField(f.name)) { (_: Group) => metaFileValue }
    else if (cdfValueOf(f.name).isDefined) {
      val v = cdfValueOf(f.name).get; (_: Group) => v
    }
    else if (!fileSchema.containsField(f.name)) { (_: Group) => null }
    else {
      val name = f.name
      val primType = fileGroup.getType(name).asPrimitiveType()
      val prim = primType.getPrimitiveTypeName
      // Catalyst timestamps are epoch MICROS; a foreign/legacy-append
      // file may annotate its INT64 as MILLIS or NANOS — decode by the
      // file's own logical type unit or the values land 1000x off.
      // Unannotated INT64 (our own pre-annotation files) is micros.
      val tsScale: Long => Long = primType.getLogicalTypeAnnotation match {
        case ts: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          ts.getUnit match {
            case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MILLIS => _ * 1000L
            case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS => _ / 1000L
            case _ => identity
          }
        case _ => identity
      }
      val get: Group => Any = (f.dataType, prim) match {
        // type-widening reads (LogTable.widenColumn): a file written
        // BEFORE the widen physically carries the narrow type — dispatch
        // on the file's own primitive and upcast, exactly what Spark's
        // vectorized reader does for the non-connector path
        case (LongType, PrimitiveTypeName.INT32) =>
          g => g.getInteger(name, 0).toLong
        case (LongType, _) => g => g.getLong(name, 0)
        case (IntegerType, _) => g => g.getInteger(name, 0)
        case (ShortType, _) => g => g.getInteger(name, 0).toShort
        case (DoubleType, PrimitiveTypeName.FLOAT) =>
          g => g.getFloat(name, 0).toDouble
        case (DoubleType, _) => g => g.getDouble(name, 0)
        case (FloatType, _) => g => g.getFloat(name, 0)
        case (BooleanType, _) => g => g.getBoolean(name, 0)
        case (StringType, _) => g => UTF8String.fromBytes(g.getBinary(name, 0).getBytes)
        case (BinaryType, _) => g => g.getBinary(name, 0).getBytes
        case (DateType, _) => g => g.getInteger(name, 0)
        case (TimestampType, PrimitiveTypeName.INT64) => g => tsScale(g.getLong(name, 0))
        case (TimestampNTZType, PrimitiveTypeName.INT64) => g => tsScale(g.getLong(name, 0))
        case (TimestampType, PrimitiveTypeName.INT96) => g => {
          // legacy 12-byte little-endian (nanos-of-day, Julian day)
          val b = java.nio.ByteBuffer.wrap(g.getInt96(name, 0).getBytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nanos = b.getLong
          val julian = b.getInt
          (julian - 2440588L) * 86400000000L + nanos / 1000L
        }
        case (dt, p) => throw new UnsupportedOperationException(
          s"graft-log reader: column $name of Spark type ${dt.catalogString} " +
            s"(parquet $p) is outside the flat warehouse type set this " +
            "connector serves")
      }
      (g: Group) => if (g.getFieldRepetitionCount(name) == 0) null else get(g)
    }
  }

  private var current: Group = _
  private var emitted = 0L
  // no projectable column in this file (count(*), every required column
  // postdates it, or the projection is just the metadata `_file`): rows
  // are NULLs of the required shape with `_file` filled when asked
  private val nullRow: InternalRow =
    InternalRow.fromSeq(required.fields.toIndexedSeq.map(f =>
      if (isMetaFileField(f.name)) metaFileValue
      else cdfValueOf(f.name).orNull))

  // a NULL key can never be vector-dead (DV keys are values); rows with
  // a present key are in the dead set iff it holds their key; a row is
  // positionally dead iff its running row index is set in the file's
  // bitmap. Inverse mode (change-feed delete images) keeps ONLY the
  // NET-NEW dead rows: dead by this commit's vectors and NOT already
  // dead by the prior version's (the exclude sets).
  private def keyIn(g: Group, set: java.util.HashSet[java.lang.Long]): Boolean =
    set != null && g.getFieldRepetitionCount(part.dvKeyCol) > 0 &&
      set.contains(dvKeyGet(g))
  private def dvKeep(g: Group, pos: Long): Boolean = {
    val newDead = keyIn(g, dvDead) || (posNew != null && posNew.contains(pos))
    if (!part.dvInverse) !newDead
    else newDead && !(keyIn(g, dvKeyExcl) ||
      (posExcl != null && posExcl.contains(pos)))
  }

  // count-style reads (no projectable column) against a POSITIONAL-only
  // vector: the footer row count lies about live rows, but the bitmap's
  // cardinality restores exactness without touching a data page —
  // positions are minted from this file's real row indices, so they are
  // unique and < fileRows. (Key vectors force the key column into the
  // projection, so reader == null never coincides with them.)
  private val countRows: Long =
    if (posNew == null) {
      if (part.dvInverse) 0L else fileRows
    } else if (part.dvInverse) {
      val net = new org.roaringbitmap.longlong.Roaring64Bitmap()
      net.or(posNew)
      if (posExcl != null) net.andNot(posExcl)
      net.getLongCardinality
    } else fileRows - posNew.getLongCardinality

  private var rowPos = -1L
  private def readNext(): Group = { rowPos += 1; reader.read() }

  override def next(): Boolean =
    if (reader == null) { emitted += 1; emitted <= countRows }
    else if (!dvActive) { current = reader.read(); current != null }
    else {
      var g = readNext()
      while (g != null && !dvKeep(g, rowPos)) g = readNext()
      current = g
      current != null
    }

  override def get(): InternalRow =
    if (reader == null) nullRow
    else InternalRow.fromSeq(extractors.toIndexedSeq.map(_(current)))

  override def close(): Unit = if (reader != null) reader.close()
}
