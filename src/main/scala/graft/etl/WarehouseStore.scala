package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage backend for the ETL warehouse tables — the seam that lets the
  * SAME pipeline (`Run.processRawOrders`, `Run.reEnrichCategories`,
  * `OrderStream`'s sink) run on either storage engine:
  *
  *   - [[ParquetWarehouse]]: the reference's shape — one parquet
  *     directory per fact table, keyed upsert by crash-safe
  *     read-merge-swap ([[Load.upsertParquet]]). Right for a
  *     single-writer nightly batch.
  *   - [[LogWarehouse]]: the concurrent-writer shape —
  *     [[graft.io.LogTable]] with an optimistic commit log: only
  *     key-overlapping files rewrite, racing writers serialize without
  *     lost updates, and every run's commit is time-travelable (an audit
  *     reads the pre-run snapshot while the run lands). Maintenance
  *     (compact / truncateHistory / vacuum) applies out-of-band.
  *
  * The upsert contract is identical on both: delete-then-insert by the
  * long key column — `RunSpec` pins warehouse-content equality between
  * backends over the full CLI flow. */
trait WarehouseStore {
  def exists(spark: SparkSession, warehouse: String, table: String): Boolean
  def read(spark: SparkSession, warehouse: String, table: String): DataFrame
  def upsert(spark: SparkSession, warehouse: String, table: String,
      df: DataFrame, key: String): Unit
}

/** Reference-shaped storage: `<warehouse>/<table>.parquet` directories. */
object ParquetWarehouse extends WarehouseStore {
  private def path(warehouse: String, table: String) = s"$warehouse/$table.parquet"

  def exists(spark: SparkSession, warehouse: String, table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(warehouse, table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def read(spark: SparkSession, warehouse: String, table: String): DataFrame =
    Load.readParquet(spark, path(warehouse, table))

  def upsert(spark: SparkSession, warehouse: String, table: String,
      df: DataFrame, key: String): Unit =
    Load.upsertParquet(spark, path(warehouse, table), df, Seq(key))
}

/** Log-structured storage: `<warehouse>/<table>_log` commit-log tables. */
object LogWarehouse extends WarehouseStore {
  private def path(warehouse: String, table: String) = s"$warehouse/${table}_log"

  def exists(spark: SparkSession, warehouse: String, table: String): Boolean =
    graft.io.LogTable.version(path(warehouse, table)) > 0

  def read(spark: SparkSession, warehouse: String, table: String): DataFrame =
    graft.io.LogTable.read(spark, path(warehouse, table))

  def upsert(spark: SparkSession, warehouse: String, table: String,
      df: DataFrame, key: String): Unit = {
    val t = path(warehouse, table)
    if (exists(spark, warehouse, table)) graft.io.LogTable.upsert(spark, t, df, key)
    else
      try graft.io.LogTable.create(spark, t, df, key)
      catch {
        // exists-then-create is a TOCTOU window: a racing first writer
        // may have claimed v1 in between. create fails loudly rather
        // than letting both batches land (same-key duplicates); the
        // loser's batch is still owed to the table — retry as the
        // upsert it would have been a moment later. The typed exception
        // (not a message substring) is the contract with LogTable.create.
        case _: graft.io.TableAlreadyExistsException =>
          graft.io.LogTable.upsert(spark, t, df, key)
      }
  }
}
