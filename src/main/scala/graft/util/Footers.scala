package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Parquet footer-open helpers (r22).
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
}
