package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet footer helpers (r22).
  *
  * `ParquetFileReader.open(file)` without options builds its
  * ParquetReadOptions over a brand-new Hadoop `Configuration()`, whose
  * first property read re-parses the XML default resources
  * (core-default.xml + site files) — 10-20 ms per call. Driver stack
  * samples during a storage-verb loop put ~10% of the verb's wall
  * inside that parse (`Configuration.loadResource` under
  * `ParquetReadOptions.Builder` under `registerStaged`), and the v2
  * partition reader additionally allocated one fresh Configuration per
  * TASK. Building the read options over an already-materialized conf
  * makes `open` cost just the footer read.
  */
object Footers {

  /** JVM-shared, materialized default Configuration for readers that
    * need only "a" local-filesystem conf (the v2 partition reader's
    * local-mode path copies it per task): the XML default-resource parse
    * happens once per JVM instead of once per task. The initializer
    * forces one property read, so the parse has happened BEFORE any copy
    * — `new Configuration(sharedConf)` then clones loaded properties
    * whatever the copy constructor does with an unloaded source. Tasks
    * only read from it. */
  lazy val sharedConf: Configuration = {
    val conf = new Configuration()
    conf.get("fs.defaultFS")
    conf
  }

  /** Open a parquet footer reader reusing the input file's conf. */
  def open(in: HadoopInputFile): ParquetFileReader =
    ParquetFileReader.open(in,
      HadoopReadOptions.builder(in.getConfiguration, in.getPath).build())

  /** The footer key under which Spark's parquet writer records the
    * DataFrame schema it wrote (`ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The Spark schema recorded in the footer of a flat parquet table's
    * data file, picked the way Spark's own inference picks it under
    * `mergeSchema=false` (one data file, assumed representative).
    * `spark.read.parquet(dir)` reads that same footer inside a
    * schema-inference Spark job; reading it here costs one driver-side
    * footer open and no job. None — so the caller falls back to
    * inference, and to its errors — when the path is missing, holds
    * subdirectories (a partitioned layout) or no visible data file, or
    * the footer lacks the key. */
  def sparkSchema(conf: Configuration, dir: String): Option[StructType] = {
    val path = new Path(dir)
    val listing =
      try path.getFileSystem(conf).listStatus(path)
      catch { case _: java.io.FileNotFoundException => return None }
    if (listing.exists(_.isDirectory)) return None
    listing.iterator.map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .minByOption(_.getName)
      .flatMap { file =>
        val r = open(HadoopInputFile.fromPath(file, conf))
        try Option(r.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
        finally r.close()
      }
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case st: StructType => st }
  }
}
