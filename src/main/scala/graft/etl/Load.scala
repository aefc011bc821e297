package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Warehouse load layer: keyed upsert, column alignment, schema migration
  * (SURVEY.md §2.2 K1-K6). The reference's delete-then-insert on DuckDB
  * (reference `src/etl/load/duckdb_client.py:48-68`) becomes an anti-join +
  * union rewrite on parquet.
  */
object Load {

  /** K2/K3 — idempotent keyed upsert: rows of `existing` whose key appears
    * in `incoming` are dropped, then `incoming` is appended. With
    * `keys=Seq("order_id")` on an items fact this replaces ALL items of the
    * touched orders — the reference's removed-line-item semantics
    * (`duckdb_client.py:65-67`).
    *
    * The anti-join hash-shuffles `existing` on the key, and only the key
    * columns of `incoming` reach the join (distinct key projection
    * below). When `incoming` is a persisted per-batch fact, AQE
    * broadcasts the key set once the cache stage has measured it — after
    * the existing side's shuffle stage, submitted alongside, has run.
    * That shuffle also re-clusters the rewritten table into the shuffle
    * partition count, so files do not accrete one per upsert. */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val keySet = incoming.select(keys.map(col).toIndexedSeq: _*).distinct()
    existing
      .join(keySet, keys, "left_anti")
      .unionByName(incoming)
  }

  /** K4 — column alignment: add missing columns as typed NULLs, project to
    * canonical order (reference `duckdb_client.py:40-46`). Also serves as
    * K6 schema migration: evolving a parquet table = align to the new
    * schema and rewrite (reference `src/tools/migrate_duckdb.py:7-26`). */
  def alignColumns(df: DataFrame, schema: StructType): DataFrame = {
    val present = df.columns.toSet
    df.select(schema.fields.map { f =>
      if (present(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** K1 — idempotent schema init (`CREATE TABLE IF NOT EXISTS`, reference
    * `src/etl/load/ddl.sql:1-43` via `duckdb_client.py:34-38`): creates an
    * empty parquet table with the given schema when the path doesn't
    * exist; an existing table is left untouched. */
  def initTable(spark: SparkSession, path: String, schema: StructType): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target)) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.parquet(path)
    }
  }

  /** K2/K3 against a parquet path: read-modify-overwrite with a staging
    * directory so a failed write never corrupts the table. First load (no
    * table yet) writes directly. On a real deployment this is Delta/Iceberg
    * MERGE territory; plain parquet keeps the engine dependency-free.
    *
    * At scale: partition the table (e.g. by month(order_date)) and rewrite
    * only partitions containing touched keys — the staging path supports
    * that by unioning untouched partitions unchanged. */
  /** The staged checked-rename swap shared by [[upsertParquet]] and
    * [[compact]] — ONE definition of the crash-recovery contract.
    * Sequence: recover (target missing + old present ⇒ a previous run
    * died between the two renames — roll back), sweep stale staging,
    * call `write(staged)` if the target exists (the caller handles
    * bootstrap), then delete-rename-rename-delete so every intermediate
    * state is recoverable. `write` returning false skips the swap (the
    * caller decided the rewrite is a no-op). Hadoop rename reports some
    * failures by RETURNING FALSE (missing parent, cross-FS move,
    * object-store quirks) — checked and thrown loudly, never
    * half-completed silently. */
  private def stagedSwap(
      verb: String,
      fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path)(
      write: org.apache.hadoop.fs.Path => Boolean): Unit = {
    val staged = target.suffix("._staged")
    val old = target.suffix("._old")
    def mustRename(from: org.apache.hadoop.fs.Path, to: org.apache.hadoop.fs.Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"$verb: rename $from -> $to failed")
    if (!fs.exists(target) && fs.exists(old)) mustRename(old, target)
    if (fs.exists(staged)) fs.delete(staged, true)
    if (!fs.exists(target)) return
    if (!write(staged)) return
    if (fs.exists(old)) fs.delete(old, true)
    mustRename(target, old)
    mustRename(staged, target)
    fs.delete(old, true)
  }

  def upsertParquet(
      spark: SparkSession,
      path: String,
      incoming: DataFrame,
      keys: Seq[String]): Unit = {
    // getFileSystem on the path (not FileSystem.get(conf)) so non-default
    // scheme paths (s3a://, hdfs://...) resolve to the right FS; suffix()
    // on the NORMALIZED Path, not string concat (a trailing "/" would
    // nest the staging dir inside the table and wedge every swap).
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    stagedSwap("upsertParquet", fs, target) { staged =>
      val existing = readParquet(spark, path)
      upsert(existing, incoming, keys).write.mode(SaveMode.Overwrite)
        .parquet(staged.toString)
      true
    }
    // bootstrap: stagedSwap ran the crash recovery first, so a target
    // still missing here really is a fresh table (not a half-swapped one)
    if (!fs.exists(target))
      incoming.write.mode(SaveMode.ErrorIfExists).parquet(path)
  }

  /** `spark.read.parquet(path)` under the schema the table's writer
    * recorded in a data file's footer ([[graft.util.Footers.sparkSchema]]):
    * the same schema inference would find, without the inference job it
    * launches on every read. One footer speaks for the table: every
    * write here (bootstrap, upsert, compact) rewrites it whole. Falls
    * back to inference when no footer carries the schema. */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame =
    graft.util.Footers.sparkSchema(spark.sparkContext.hadoopConfiguration, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** Warehouse maintenance: COMPACT a flat parquet table's accreted
    * small files into ~`targetBytes` outputs. Streaming/incremental
    * upserts leave one-file-per-batch debris; scans then pay a per-file
    * open + footer read, and at 100 TB the file LISTING itself becomes a
    * bottleneck. Rewrite goes through the same staged checked-rename
    * swap as [[upsertParquet]], so a crashed compaction never loses the
    * table. No-op when the table does not exist. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    stagedSwap("compact", fs, target) { staged =>
      // flat-only: a Hive-partitioned table would be read with the
      // partition column demoted to data and rewritten flat — layout
      // destroyed and subsequent partitioned upserts would duplicate
      // keys. Fail loudly instead of corrupting.
      val partitionedDirs = fs.listStatus(target)
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      require(partitionedDirs.isEmpty,
        s"compact: $path is Hive-partitioned (${partitionedDirs.head.getPath.getName}, ...) — " +
          "compact is flat-table-only; compact partitions individually instead")
      val size = fs.getContentSummary(target).getLength
      val nFiles = math.max(1L, (size + targetBytes - 1) / targetBytes).toInt
      spark.read.parquet(path).repartition(nFiles)
        .write.mode(SaveMode.Overwrite).parquet(staged.toString)
      true
    }
  }

  /** K2/K3 against a PARTITIONED parquet table — the 100 TB shape the
    * flat [[upsertParquet]] docstring promises: only partitions that
    * contain touched keys are read, upserted, and swapped; untouched
    * partitions are never opened, let alone rewritten. A delete-then-
    * insert that rewrites the whole table is O(table); this is
    * O(touched partitions) — with a month partition column and a 30-day
    * fetch window, one or two partitions per run regardless of table
    * size.
    *
    * Layout: standard Hive-style `partitionCol=value` directories.
    * Swap: per touched partition, the live directory is renamed to a
    * dot-prefixed holding name (invisible to readers), the staged
    * rewrite renamed in, then the holding copy deleted — each step a
    * checked rename, and a crashed swap leaves a `._old_*` directory
    * that the next run restores (target missing) or discards (target
    * present). */
  /** `keyPartitionsStable = true` asserts a key's partition value never
    * changes between loads (e.g. partitioned by an immutable creation
    * month): the upsert then touches ONLY partitions named by `incoming`.
    * With the safe default (false), a column-pruned key⋈partition scan of
    * the live table first finds partitions still holding an incoming
    * key's OLD row (a re-fetched order whose date moved across a
    * partition boundary) — those are rewritten too, so the keyed-upsert
    * contract ("one row per key") holds even across partition moves. The
    * discovery scan reads two columns, never payloads. */
  def upsertParquetPartitioned(
      spark: SparkSession,
      path: String,
      incoming: DataFrame,
      keys: Seq[String],
      partitionCol: String,
      keyPartitionsStable: Boolean = false): Unit = {
    import org.apache.hadoop.fs.Path
    require(incoming.columns.contains(partitionCol),
      s"incoming is missing partition column $partitionCol")
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mustRename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(
          s"upsertParquetPartitioned: rename $from -> $to failed")
    // Crash recovery: restore any holding dir whose live partition is
    // missing (died between the two swap renames); discard the rest.
    if (fs.exists(target)) {
      fs.listStatus(target).filter(_.getPath.getName.startsWith("._old_"))
        .foreach { st =>
          val live = new Path(target, st.getPath.getName.stripPrefix("._old_"))
          if (!fs.exists(live)) mustRename(st.getPath, live)
          else fs.delete(st.getPath, true)
        }
    }
    if (!fs.exists(target)) {
      incoming.write.partitionBy(partitionCol)
        .mode(SaveMode.ErrorIfExists).parquet(path)
      return
    }
    if (incoming.isEmpty) return
    // Pin the batch across its consumers (partition-value collect,
    // broadcast key set, staged write): without the persist each pays
    // the full upstream lineage again, and a non-deterministic upstream
    // could yield a touched-partition list that disagrees with the rows
    // the staged write actually produces — the post-swap cleanup would
    // then delete a live partition the staged output never replaced.
    val inc = incoming.persist()
    try upsertPartitionedPinned(spark, path, inc, keys, partitionCol,
      keyPartitionsStable, fs, target, mustRename _)
    finally inc.unpersist()
  }

  private def upsertPartitionedPinned(
      spark: SparkSession, path: String, incoming: DataFrame,
      keys: Seq[String], partitionCol: String, keyPartitionsStable: Boolean,
      fs: org.apache.hadoop.fs.FileSystem, target: org.apache.hadoop.fs.Path,
      mustRename: (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) => Unit)
      : Unit = {
    import org.apache.hadoop.fs.Path
    // Touched partitions: a tiny driver-side list (months, not keys).
    // NULL partition values are legal — they live under Hive's default-
    // partition directory and swap like any other (see listing below).
    val incomingParts = incoming.select(partitionCol).distinct().collect().map(_.get(0))
    val live = spark.read.option("basePath", path).parquet(path)
    val movedParts: Array[Any] =
      if (keyPartitionsStable) Array.empty
      else live
        .select((keys :+ partitionCol).map(col).toIndexedSeq: _*)
        .join(broadcast(incoming.select(keys.map(col).toIndexedSeq: _*).distinct()),
          keys, "left_semi")
        .select(partitionCol).distinct().collect().map(_.get(0))
    val touched = (incomingParts ++ movedParts).distinct
    val touchedNonNull = touched.filter(_ != null)
    val touchedHasNull = touched.contains(null)
    val inTouched = {
      val base =
        if (touchedNonNull.isEmpty) lit(false)
        else col(partitionCol).isin(touchedNonNull.toIndexedSeq: _*)
      if (touchedHasNull) base || col(partitionCol).isNull else base
    }
    val existingSlice = live.filter(inTouched)
    // The live partition dirs actually holding touched rows — from
    // input_file_name() over the PRUNED slice, so names carry Spark's own
    // value formatting and path escaping (no hand-built "col=value").
    // NOT Dataset.inputFiles: that is plan-level and ignores the filter,
    // returning every partition's files — cleanup would then delete
    // untouched partitions.
    val touchedLiveDirs = existingSlice
      .select(input_file_name().as("f")).distinct()
      .collect()
      .map(r => new Path(r.getString(0)).getParent.getName)
      .filter(_.startsWith(s"$partitionCol="))
      .distinct
    val staged = target.suffix("._staged")
    if (fs.exists(staged)) fs.delete(staged, true)
    upsert(existingSlice, incoming.select(existingSlice.columns.map(col).toIndexedSeq: _*), keys)
      .write.partitionBy(partitionCol)
      .mode(SaveMode.Overwrite).parquet(staged.toString)
    // Swap the partition directories THE WRITE PRODUCED (listed from the
    // staged output, so names carry Spark's own value formatting, path
    // escaping, and null handling — reconstructing "col=value" by hand
    // silently misses any value Spark escapes). A touched partition whose
    // upsert result is EMPTY produces no staged dir; its live dir (old
    // rows all moved/replaced) is removed below.
    val stagedDirNames = fs.listStatus(staged)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partitionCol="))
      .map(_.getPath.getName)
    stagedDirNames.foreach { dirName =>
      val livePart = new Path(target, dirName)
      val stagedDir = new Path(staged, dirName)
      val holding = new Path(target, s"._old_$dirName")
      if (fs.exists(holding)) fs.delete(holding, true)
      if (fs.exists(livePart)) mustRename(livePart, holding)
      mustRename(stagedDir, livePart)
      fs.delete(holding, true)
    }
    // A touched live dir with no staged counterpart drained to zero rows
    // (every key moved elsewhere): drop it so a stale copy can't survive.
    val stagedSet = stagedDirNames.toSet
    touchedLiveDirs.filterNot(stagedSet).foreach { n =>
      fs.delete(new Path(target, n), true)
    }
    fs.delete(staged, true)
  }

  /** K5/J5 — join-driven UPDATE: recompute a column from a mapping table
    * and overwrite where forced or missing/blank
    * (reference `src/run.py:88-94`: `UPDATE fct_order_items SET
    * category_snapshot = m.category_snapshot FROM map_df m WHERE
    * i.product_id = m.product_id AND (force OR missing)`). No in-place
    * UPDATE on parquet → left-join + conditional recompute + rewrite.
    *
    * Mirrors the reference's UPDATE..FROM exactly: only rows whose
    * product MATCHES a mapping row are touched, and a matched row takes
    * the mapping value EVEN WHEN NULL — under force=true a product that
    * lost all its categories (map value None, run.py:78-84) has its
    * stale snapshot cleared, not kept. Rows with no mapping match keep
    * their value (no row in the UPDATE's FROM product). */
  def updateFromMap(
      items: DataFrame,
      mapping: DataFrame, // (product_id, category_snapshot — may be NULL)
      force: Boolean): DataFrame = {
    val m = broadcast(mapping.select(
      col("product_id"),
      col("category_snapshot").as("_new_cat"))
      // matched-row marker: _new_cat IS NULL is a legal mapping value
      // (category-less product), distinct from "no mapping row"
      .withColumn("_m_hit", lit(1)))
    val needsUpdate =
      col("_m_hit").isNotNull && (if (force) lit(true) else missingCategory)
    items
      .join(m, Seq("product_id"), "left")
      .withColumn(
        "category_snapshot",
        when(needsUpdate, col("_new_cat"))
          .otherwise(col("category_snapshot")))
      .drop("_new_cat", "_m_hit")
      .select(items.columns.map(col).toIndexedSeq: _*)
  }

  /** The "category is missing" gate shared by [[updateFromMap]] and the
    * run.py re-enrich pass's would-change count (reference
    * `run.py:62-66`: NULL or blank after TRIM) — one definition so the
    * reported touched-row count can never drift from the write. */
  def missingCategory: Column =
    col("category_snapshot").isNull || trim(col("category_snapshot")) === ""
}
